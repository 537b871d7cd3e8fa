"""Arrow-batched media decode operators (mapInPandas).

Image HEADER metadata (PNG IHDR / JPEG SOFn) is parsed for REAL with
stdlib ``struct`` — see ``parse_image_header`` — so ``image_meta``
returns true width/height/channels for actual PNG/JPEG payloads with
no codec dependency. Containers are decoded for real all the way to
samples wherever stdlib suffices: ``png_pixel_stats`` (zlib inflate +
full five-filter scanline unfiltering — a COMPRESSED format),
``bmp_pixel_stats`` (struct-parsed 24-bit BMP pixel rows),
``wav_meta_energy`` (stdlib ``wave`` PCM) and ``y4m_frame_stats``,
all hash-checked against closed-form oracles, plus the fully
hand-built COMPRESSED decoders: ``gif_pixel_stats`` (variable-width
LZW + palette), ``jpeg_pixel_stats`` (baseline SOF0 AND progressive
SOF2, incl. 4:2:0 subsampling and restart markers, DQT/DHT parsed
from the bitstream), ``decode_adpcm_wav`` (IMA ADPCM audio) and
``decode_mjpeg_avi`` (Motion-JPEG video in RIFF/AVI). Only
perceptual-codec decoding (MP3/AAC, H.264+) and arithmetic-coded
JPEG would need Pillow / soundfile / av, none of which
exist in this container — so that decode step is STUBBED:
``require_real_decoders()``
raises ``NotImplementedError`` describing what the production body
would do, and the default ``fake`` mode substitutes a deterministic
md5-derived stand-in for the decoded values (also the fallback for
non-PNG/JPEG payloads in ``image_meta``). Everything around the stub is real and tested:
the asset schema, the mapInPandas iterator/batch shape, the output
StructTypes, the per-media routing, and the (byte-exact) semantics
the DuckDB oracle checks.

Why mapInPandas and not a scalar pandas_udf: decode is 1→N for frame
sampling (one video → many frames) and benefits from batch-local
library state (decoder contexts); the iterator-of-DataFrames form
also lets a real implementation stream frames out without holding a
whole video's frames in memory.

Scale notes: payloads shuffle nowhere in this module — every operator
is a narrow mapInPandas over the scan, so 100 TB of media maps
linearly; only the small extracted features ever reach a shuffle.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

FRAME_BYTES = 32  #: fake "video frame" stride
WINDOW_BYTES = 8  #: fake "audio window" stride

try:  # pragma: no cover - not installed in this container
    import PIL.Image  # noqa: F401

    HAVE_REAL_DECODERS = True
except ImportError:
    HAVE_REAL_DECODERS = False


def require_real_decoders() -> None:
    """STUB GATE for real media decoding."""
    raise NotImplementedError(
        "Codec-dependent media decode is stubbed in this environment "
        "(no Pillow/soundfile/av). Images decode for REAL, "
        "dependency-free: PNG (decode_png_pixels: zlib + unfilter), "
        "GIF (decode_gif_pixels: LZW + palette), baseline JPEG "
        "(decode_jpeg_pixels: Huffman + IDCT), plus BMP/WAV/Y4M. "
        "Compressed audio (IMA ADPCM) and video (MJPEG-AVI) decode "
        "for real too. What remains stubbed: arithmetic-coded JPEG "
        "and perceptual codecs (MP3/AAC, H.264+). "
        "The mapInPandas plumbing, schemas and routing in this module "
        "are the real, tested code path either way."
    )


def _md5(payload: bytes | bytearray) -> str:
    return hashlib.md5(bytes(payload)).hexdigest()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type → sample channel count (PNG spec §11.2.2).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: JPEG SOFn markers that carry frame dimensions — every 0xC0–0xCF
#: except DHT (C4), JPG (C8), DAC (CC) (ITU T.81 table B.1).
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def parse_image_header(b: bytes) -> tuple[int, int, int] | None:
    """Stdlib header parse → (width, height, channels), or None when
    the payload is not a recognized real image format.

    PNG: dimensions live in the IHDR chunk, which the spec requires to
    be first — bytes 16..24 hold big-endian width/height, byte 25 the
    color type. JPEG: walk the marker segments from SOI to the first
    SOFn frame header, which carries (precision, height, width,
    n_components). No external codec needed for either."""
    if b.startswith(_PNG_SIG) and len(b) >= 26 and b[12:16] == b"IHDR":
        width, height = struct.unpack(">II", b[16:24])
        channels = _PNG_CHANNELS.get(b[25])
        if channels is not None and width > 0 and height > 0:
            return width, height, channels
        return None
    if b.startswith(b"\xff\xd8"):  # JPEG SOI
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:  # desynchronized — not a parseable JPEG
                return None
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
            if marker in _JPEG_SOF:
                if i + 2 + seg_len > len(b) or seg_len < 8:
                    return None
                height, width = struct.unpack(">HH", b[i + 5 : i + 9])
                channels = b[i + 9]
                if width > 0 and height > 0 and 1 <= channels <= 4:
                    return width, height, channels
                return None
            i += 2 + seg_len
    return None


def image_meta(assets: DataFrame, *, mode: str = "fake") -> DataFrame:
    """Decode image headers → (asset_id, n_bytes, width, height,
    channels).

    REAL for PNG and JPEG: dimensions/channels come from a stdlib
    ``struct`` parse of the container header (PNG IHDR / JPEG SOFn —
    see ``parse_image_header``), no codec library needed. Payloads
    that are neither fall back to the deterministic md5-derived fake,
    which is what the synthetic text corpus exercises — the DuckDB
    oracle reproduces that fake hex-digit-for-hex-digit (real
    PNG/JPEG payloads never hit the fake path, and the synthetic
    corpus never hits the real path, so the oracle stays exact).
    ``mode="real"`` additionally gates full pixel decode, which
    remains stubbed."""
    if mode != "fake":
        require_real_decoders()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nbytes, ws, hs, cs = [], [], [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload)
                parsed = parse_image_header(b)
                if parsed is None:
                    x = _md5(b)
                    parsed = (
                        256 + int(x[0:3], 16) % 1792,
                        256 + int(x[3:6], 16) % 1792,
                        1 + int(x[6], 16) % 4,
                    )
                ids.append(aid)
                nbytes.append(len(b))
                ws.append(parsed[0])
                hs.append(parsed[1])
                cs.append(parsed[2])
            yield pd.DataFrame(
                {"asset_id": ids, "n_bytes": nbytes, "width": ws, "height": hs, "channels": cs}
            )

    return (
        assets.filter("media_type = 'image'")
        .select("asset_id", "payload")
        .mapInPandas(fn, "asset_id BIGINT, n_bytes INT, width INT, height INT, channels INT")
    )


def resize_images(assets: DataFrame, width: int, height: int, *, mode: str = "fake") -> DataFrame:
    """Resize → (asset_id, width, height, resized_md5). Fake mode
    fingerprints the would-be output instead of producing pixels."""
    if mode != "fake":
        require_real_decoders()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fp = pdf["payload"].map(
                lambda p: hashlib.md5(f"{width}x{height}|{_md5(p)}".encode()).hexdigest()
            )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": width,
                    "height": height,
                    "resized_md5": fp,
                }
            )

    return (
        assets.filter("media_type = 'image'")
        .select("asset_id", "payload")
        .mapInPandas(fn, "asset_id BIGINT, width INT, height INT, resized_md5 STRING")
    )


def frame_samples(assets: DataFrame, *, every_n: int = 4, mode: str = "fake") -> DataFrame:
    """Sample every ``every_n``-th frame of each video → (asset_id,
    frame_idx, frame_md5). 1→N: one payload row fans out to many
    frame rows inside the Arrow batch. Fake frames are fixed 32-byte
    strides; fingerprint = md5 of the frame's lowercase hex."""
    if mode != "fake":
        require_real_decoders()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, fps = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = (len(b) + FRAME_BYTES - 1) // FRAME_BYTES
                for i in range(0, n_frames, every_n):
                    frame = b[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    ids.append(aid)
                    idxs.append(i)
                    fps.append(hashlib.md5(frame.hex().encode()).hexdigest())
            yield pd.DataFrame({"asset_id": ids, "frame_idx": idxs, "frame_md5": fps})

    return (
        assets.filter("media_type = 'video'")
        .select("asset_id", "payload")
        .mapInPandas(fn, "asset_id BIGINT, frame_idx INT, frame_md5 STRING")
    )


def audio_energy(assets: DataFrame, *, mode: str = "fake") -> DataFrame:
    """Per-window pseudo-energy of each audio payload → (asset_id,
    window_idx, energy double). Fake energy = md5-derived uniform in
    [0,1), byte-exact reproducible from the window's hex."""
    if mode != "fake":
        require_real_decoders()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, es = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload)
                n_win = (len(b) + WINDOW_BYTES - 1) // WINDOW_BYTES
                for i in range(n_win):
                    win = b[i * WINDOW_BYTES : (i + 1) * WINDOW_BYTES]
                    h = hashlib.md5(win.hex().encode()).hexdigest()
                    ids.append(aid)
                    idxs.append(i)
                    es.append(int(h[:8], 16) / 2**32)
            yield pd.DataFrame({"asset_id": ids, "window_idx": idxs, "energy": es})

    return (
        assets.filter("media_type = 'audio'")
        .select("asset_id", "payload")
        .mapInPandas(fn, "asset_id BIGINT, window_idx INT, energy DOUBLE")
    )


# ---- REAL decoders for uncompressed containers (BMP / WAV) -----------
#
# No codec library needed: BMP is a struct-parsed pixel array, WAV is
# stdlib ``wave``. These are full decode paths (headers AND samples),
# hash-checked against closed-form DuckDB oracles via the
# deterministic fixtures in multimodal.assets — the pixel-level stub
# above now covers only compressed formats (PNG/JPEG pixels, lossy
# audio/video).


def decode_bmp_pixels(b: bytes) -> tuple[int, int, bytes] | None:
    """REAL 24-bit BMP pixel decode with ``struct``: parses
    BITMAPINFOHEADER and walks the bottom-up padded pixel rows.
    Returns (width, height, rgb) — the interleaved 8-bit samples,
    reordered from BMP's BGR — or None for non-BMP payloads and BMPs
    outside the envelope (header < 40 bytes, not 24 bpp, empty)."""
    if b[:2] != b"BM":
        return None
    (data_off,) = struct.unpack_from("<I", b, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", b, 14)
    bpp = struct.unpack_from("<H", b, 28)[0]
    if hdr_size < 40 or bpp != 24 or w <= 0 or h == 0:
        return None
    stride = (w * 3 + 3) // 4 * 4
    bgr = bytearray()
    for row in range(abs(h)):
        off = data_off + row * stride
        bgr += b[off : off + w * 3]
    bgr += bytes(-len(bgr) % 3)  # a truncated last pixel sums as zeros
    rgb = bytearray(bgr)
    rgb[0::3], rgb[2::3] = bgr[2::3], bgr[0::3]
    return w, abs(h), bytes(rgb)


def bmp_pixel_stats(assets: DataFrame) -> DataFrame:
    """REAL BMP decode → per-image channel statistics:
    (asset_id, width, height, sum_r, sum_g, sum_b, mean_r/g/b), exact
    integer channel sums (shared ``_rgb_pixel_stats`` shape)."""
    return _rgb_pixel_stats(assets, decode_bmp_pixels)


def decode_png_pixels(b: bytes) -> tuple[int, int, int, bytes] | None:
    """REAL PNG pixel decode with nothing but stdlib ``zlib``:
    chunk walk → IHDR, concatenated IDAT inflate, then per-scanline
    unfiltering (all five PNG filter types incl. Paeth — PNG spec
    §9). Returns (width, height, channels, recon) where ``recon`` is
    the raw interleaved 8-bit samples, or None for PNGs outside the
    supported envelope (non-8-bit depth, interlaced, palette) and
    non-PNG payloads. This retires the compressed-image half of the
    ``require_real_decoders`` stub for the most common format."""
    import zlib

    if not b.startswith(_PNG_SIG):
        return None
    i = 8
    w = h = depth = ctype = interlace = None
    idat = bytearray()
    while i + 8 <= len(b):
        (ln,) = struct.unpack_from(">I", b, i)
        tag = b[i + 4 : i + 8]
        body = b[i + 8 : i + 8 + ln]
        if tag == b"IHDR":
            if len(body) < 13:  # truncated header: malformed, not an error
                return None
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", body[:13])
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        i += 12 + ln  # len + tag + body + crc
    if not (w and h) or depth != 8 or interlace != 0:
        return None
    channels = _PNG_CHANNELS.get(ctype)
    if channels is None or ctype == 3:  # palette: out of scope
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) < h * (stride + 1):
        return None
    recon = bytearray()
    prev = bytes(stride)
    pos = 0
    for _ in range(h):
        ft = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:  # Sub
            for k in range(channels, stride):
                line[k] = (line[k] + line[k - channels]) % 256
        elif ft == 2:  # Up
            for k in range(stride):
                line[k] = (line[k] + prev[k]) % 256
        elif ft == 3:  # Average
            for k in range(stride):
                left = line[k - channels] if k >= channels else 0
                line[k] = (line[k] + (left + prev[k]) // 2) % 256
        elif ft == 4:  # Paeth
            for k in range(stride):
                a = line[k - channels] if k >= channels else 0
                up = prev[k]
                c = prev[k - channels] if k >= channels else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                line[k] = (line[k] + pred) % 256
        elif ft != 0:
            return None
        recon += line
        prev = bytes(line)
    return w, h, channels, bytes(recon)


def _rgb_pixel_stats(assets: DataFrame, decode_fn) -> DataFrame:
    """Shared decode→exact-integer-channel-sums builder for the image
    formats (BMP/PNG/GIF/JPEG): narrow mapInPandas, payloads never
    shuffle; undecodable payloads are skipped, not errored. PNG's
    decoder returns (w, h, channels, samples); the RGB decoders
    return (w, h, rgb)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                ("asset_id", "width", "height", "sum_r", "sum_g", "sum_b")}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                decoded = decode_fn(bytes(payload))
                if decoded is None:
                    continue
                if len(decoded) == 4:
                    w, h, ch, px = decoded
                    if ch >= 3:
                        sr, sg, sb = sum(px[0::ch]), sum(px[1::ch]), sum(px[2::ch])
                    else:  # gray / gray+alpha
                        sr = sg = sb = sum(px[0::ch])
                else:
                    w, h, px = decoded
                    sr, sg, sb = sum(px[0::3]), sum(px[1::3]), sum(px[2::3])
                out["asset_id"].append(aid)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(sr)
                out["sum_g"].append(sg)
                out["sum_b"].append(sb)
            yield pd.DataFrame(out)

    decoded = assets.select("asset_id", "payload").mapInPandas(
        fn,
        "asset_id BIGINT, width INT, height INT, "
        "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT",
    )
    from pyspark.sql import functions as F

    npx = (F.col("width") * F.col("height")).cast("double")
    return decoded.select(
        "asset_id", "width", "height", "sum_r", "sum_g", "sum_b",
        F.round(F.col("sum_r") / npx, 6).alias("mean_r"),
        F.round(F.col("sum_g") / npx, 6).alias("mean_g"),
        F.round(F.col("sum_b") / npx, 6).alias("mean_b"),
    )


def png_pixel_stats(assets: DataFrame) -> DataFrame:
    """REAL PNG decode → per-image channel statistics, the compressed
    twin of ``bmp_pixel_stats``. Grayscale maps to r=g=b; alpha is
    ignored for the sums (shared ``_rgb_pixel_stats`` shape)."""
    return _rgb_pixel_stats(assets, decode_png_pixels)


def wav_meta_energy(assets: DataFrame) -> DataFrame:
    """REAL WAV decode via stdlib ``wave`` → (asset_id, sample_rate,
    n_channels, n_samples, sum_sq, peak_abs): container metadata plus
    exact integer signal energy (sum of squared 16-bit samples) and
    peak amplitude. Narrow mapInPandas; integer outputs make the
    oracle check float-hazard-free."""
    import io
    import wave

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                ("asset_id", "sample_rate", "n_channels", "n_samples",
                 "sum_sq", "peak_abs")}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    continue
                with wave.open(io.BytesIO(b), "rb") as wv:
                    if wv.getsampwidth() != 2:
                        continue
                    n = wv.getnframes()
                    raw = wv.readframes(n)
                    samples = struct.unpack(f"<{n * wv.getnchannels()}h", raw)
                out["asset_id"].append(aid)
                out["sample_rate"].append(wv.getframerate())
                out["n_channels"].append(wv.getnchannels())
                out["n_samples"].append(n)
                out["sum_sq"].append(sum(s * s for s in samples))
                out["peak_abs"].append(max(abs(s) for s in samples) if samples else 0)
            yield pd.DataFrame(out)

    return assets.select("asset_id", "payload").mapInPandas(
        fn,
        "asset_id BIGINT, sample_rate INT, n_channels INT, "
        "n_samples INT, sum_sq BIGINT, peak_abs INT",
    )


def y4m_frame_stats(assets: DataFrame) -> DataFrame:
    """REAL video decode (YUV4MPEG2): parse the stream header, walk
    the FRAME-delimited raw C444 planes, and emit per-frame luma
    statistics — (asset_id, frame_idx, width, height, sum_y,
    mean_y). 1→N inside the Arrow batch like frame_samples; exact
    integer sums keep the oracle float-hazard-free. The full
    image/audio/video real-decode triple with zero codec
    dependencies."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                ("asset_id", "frame_idx", "width", "height", "sum_y")}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload)
                if not b.startswith(b"YUV4MPEG2"):
                    continue
                nl = b.find(b"\n")
                if nl < 0:
                    continue
                w = h = None
                c444 = False
                for tok in b[9:nl].split():
                    if tok[:1] == b"W":
                        w = int(tok[1:])
                    elif tok[:1] == b"H":
                        h = int(tok[1:])
                    elif tok[:1] == b"C":
                        c444 = tok[1:] == b"444"
                if not (w and h and c444):
                    continue  # only the 4:4:4 layout is supported here
                frame_bytes = w * h * 3
                i, fidx = nl + 1, 0
                while b.startswith(b"FRAME", i):
                    i = b.find(b"\n", i) + 1  # frame params ignored
                    ypl = b[i : i + w * h]
                    if len(ypl) < w * h:
                        break
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(fidx)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["sum_y"].append(sum(ypl))
                    i += frame_bytes
                    fidx += 1
            yield pd.DataFrame(out)

    decoded = assets.select("asset_id", "payload").mapInPandas(
        fn,
        "asset_id BIGINT, frame_idx INT, width INT, height INT, sum_y BIGINT",
    )
    from pyspark.sql import functions as F

    return decoded.select(
        "asset_id", "frame_idx", "width", "height", "sum_y",
        F.round(F.col("sum_y") / (F.col("width") * F.col("height")).cast("double"), 6)
        .alias("mean_y"),
    )


def gif_lzw_decompress(data: bytes, min_code_size: int) -> bytes | None:
    """GIF-flavor LZW decode (GIF89a spec appendix F): variable code
    width starting at min_code_size+1, LSB-first packing, CLEAR
    resets the string table, EOI terminates; the KwKwK case handled.
    Returns the index stream, or None on a corrupt code sequence."""
    clear = 1 << min_code_size
    eoi = clear + 1
    acc = 0
    nbits = 0
    pos = 0

    table: list[bytes] = []
    code_size = 0
    prev: bytes | None = None
    out = bytearray()

    def reset() -> None:
        nonlocal table, code_size, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size = min_code_size + 1
        prev = None

    reset()
    while True:
        while nbits < code_size:
            if pos >= len(data):
                return bytes(out)  # missing EOI: tolerate, like real decoders
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            return None
        out += entry
        prev = entry
        # widen AFTER the table fills the current width (mirror of the
        # encoder's post-add growth); 12 bits is the GIF ceiling
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1


def decode_gif_pixels(b: bytes) -> tuple[int, int, bytes] | None:
    """REAL GIF decode with zero dependencies: header + logical screen
    descriptor, global color table, extension-block walk, image
    descriptor, sub-block reassembly, LZW decompress, palette
    mapping. Returns (width, height, rgb) — interleaved 8-bit RGB of
    the FIRST image — or None outside the supported envelope (local
    color tables, interlace) and for non-GIF or TRUNCATED payloads
    (any structural read past the buffer rejects, never raises)."""
    try:
        return _decode_gif_pixels_inner(b)
    except (struct.error, IndexError, ValueError):
        return None


def _decode_gif_pixels_inner(b: bytes) -> tuple[int, int, bytes] | None:
    if b[:6] not in (b"GIF89a", b"GIF87a"):
        return None
    if len(b) < 13:
        return None
    packed = b[10]
    pos = 13
    palette = b""
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = b[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(b):
        block = b[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:
            break
        elif block == 0x3B:
            return None  # trailer before any image
        else:
            return None
        continue
    if pos >= len(b) or b[pos] != 0x2C:
        return None
    w, h = struct.unpack_from("<HH", b, pos + 5)
    ipacked = b[pos + 9]
    if ipacked & 0x80 or ipacked & 0x40:  # local table / interlace
        return None
    pos += 10
    min_code_size = b[pos]
    pos += 1
    lzw = bytearray()
    while pos < len(b) and b[pos] != 0:
        ln = b[pos]
        lzw += b[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    indices = gif_lzw_decompress(bytes(lzw), min_code_size)
    if indices is None or len(indices) < w * h or not palette:
        return None
    if max(indices[: w * h], default=0) * 3 + 3 > len(palette):
        return None  # index beyond the color table: corrupt, reject
    rgb = bytearray()
    for i in indices[: w * h]:
        rgb += palette[3 * i : 3 * i + 3]
    return w, h, bytes(rgb)


def gif_pixel_stats(assets: DataFrame) -> DataFrame:
    """REAL GIF decode → per-image exact integer channel sums (shared
    ``_rgb_pixel_stats`` shape)."""
    return _rgb_pixel_stats(assets, decode_gif_pixels)


# ---- baseline/progressive JPEG decoder -------------------------------

_JPEG_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

import math as _math

_JCOS = [[_math.cos((2 * i + 1) * j * _math.pi / 16) for j in range(8)] for i in range(8)]
_JISQ2 = 1.0 / _math.sqrt(2.0)


def _idct8(coef: list[float]) -> list[float]:
    out = [0.0] * 64
    for yy in range(8):
        for xx in range(8):
            s = 0.0
            for v in range(8):
                cv = _JISQ2 if v == 0 else 1.0
                for u in range(8):
                    cu = _JISQ2 if u == 0 else 1.0
                    s += cu * cv * coef[v * 8 + u] * _JCOS[xx][u] * _JCOS[yy][v]
            out[yy * 8 + xx] = 0.25 * s
    return out


class _JpegBitReader:
    """MSB-first entropy-data reader with 0xFF00 unstuffing; any other
    marker ends the scan."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise EOFError
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise EOFError  # real marker: scan over
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self) -> bool:
        """Discard pad bits, consume the expected RSTn marker."""
        self.acc = 0
        self.n = 0
        d = self.data
        if self.pos + 2 <= len(d) and d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
            return True
        return False


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


class _HuffDecoder:
    """Canonical Huffman per T.81 C.2, decoded by (length, code)."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.map: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.map[(length, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: _JpegBitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.bit()
            sym = self.map.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad Huffman code")


def decode_jpeg_pixels(b: bytes) -> tuple[int, int, bytes] | None:
    """REAL JPEG decode with zero dependencies — baseline (SOF0) AND
    progressive (SOF2): marker walk, DQT/DHT parsed FROM THE FILE
    (nothing shared with the fixture encoder's constant tables),
    multi-scan entropy decode into a per-component COEFFICIENT store
    (spectral-selection bands, EOBn run codes, DC successive-
    approximation refinement, restart markers, byte unstuffing, DC
    prediction), then one dequantize + float IDCT + YCbCr→RGB pass
    over the finished coefficients. Returns (width, height, rgb) or
    None outside the supported envelope (arithmetic coding, sampling
    factors beyond 2, 12-bit) and for non-JPEG or TRUNCATED payloads (any
    structural read past the buffer rejects, never raises)."""
    try:
        return _decode_jpeg_pixels_inner(b)
    except (struct.error, IndexError, ValueError):
        return None


def _decode_jpeg_pixels_inner(b: bytes) -> tuple[int, int, bytes] | None:
    if b[:2] != b"\xff\xd8":
        return None
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], _HuffDecoder] = {}
    w = h = None
    progressive = False
    restart_interval = 0
    comps: list[tuple[int, int, int]] = []  # (id, qtab, hv)
    hs: list[int] = []
    vs: list[int] = []
    strides: list[int] = []  # blocks per row in the coefficient store
    coefs: list[list[list[int]]] = []  # [comp][block_index][64]
    mcux = mcuy = hmax = vmax = 0

    def alloc() -> None:
        nonlocal hs, vs, strides, coefs, mcux, mcuy, hmax, vmax
        hs = [(hv >> 4) for _, _, hv in comps]
        vs = [(hv & 0x0F) for _, _, hv in comps]
        hmax, vmax = max(hs), max(vs)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        strides = [mcux * hs[ci] for ci in range(len(comps))]
        coefs = [
            [[0] * 64 for _ in range(strides[ci] * mcuy * vs[ci])]
            for ci in range(len(comps))
        ]

    def decode_scan(body: bytes, data_at: int) -> int | None:
        """Entropy-decode one scan; returns the position of the next
        marker, or None on a malformed stream."""
        ns = body[0]
        scan = []  # (comp_index, dc_tab, ac_tab)
        ids = [cid for cid, _, _ in comps]
        for c in range(ns):
            cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
            if cid not in ids:
                return None
            scan.append((ids.index(cid), tabs >> 4, tabs & 0x0F))
        ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
        a = body[3 + 2 * ns]
        ah, al = a >> 4, a & 0x0F
        if not progressive:
            ss, se, ah, al = 0, 63, 0, 0
        if ss > 0 and ns != 1:
            return None  # progressive AC scans are single-component
        br = _JpegBitReader(b, data_at)
        pred = [0] * len(comps)
        eobrun = 0
        try:
            if ns > 1 or not progressive:
                # interleaved geometry (MCU walk); baseline also lands
                # here and additionally codes AC 0..63 inline
                unit = 0
                for my in range(mcuy):
                    for mx in range(mcux):
                        if restart_interval and unit and unit % restart_interval == 0:
                            if not br.sync_restart():
                                return None
                            pred = [0] * len(comps)
                        unit += 1
                        for ci, dct, act in scan:
                            for byy in range(vs[ci]):
                                for bxx in range(hs[ci]):
                                    bi = (my * vs[ci] + byy) * strides[ci] + (
                                        mx * hs[ci] + bxx
                                    )
                                    zz = coefs[ci][bi]
                                    if ah == 0:
                                        dc_h = huff.get((0, dct))
                                        if dc_h is None:
                                            return None
                                        size = dc_h.decode(br)
                                        diff = (
                                            _extend(br.bits(size), size) if size else 0
                                        )
                                        pred[ci] += diff
                                        zz[0] = pred[ci] << al
                                    else:  # DC refinement: one bit
                                        if br.bit():
                                            zz[0] |= 1 << al
                                    if se > 0:  # baseline: AC inline
                                        ac_h = huff.get((1, act))
                                        if ac_h is None:
                                            return None
                                        k = 1
                                        while k <= se:
                                            sym = ac_h.decode(br)
                                            if sym == 0x00:
                                                break
                                            if sym == 0xF0:
                                                k += 16
                                                continue
                                            k += sym >> 4
                                            if k > se:
                                                return None
                                            sz = sym & 0x0F
                                            zz[k] = _extend(br.bits(sz), sz)
                                            k += 1
            else:
                # non-interleaved single-component scan (progressive
                # DC-only ns==1, or an AC band): raster over the
                # component's OWN block grid
                ci, dct, act = scan[0]
                cw = (w * hs[ci] + hmax - 1) // hmax
                ch = (h * vs[ci] + vmax - 1) // vmax
                nbx, nby = (cw + 7) // 8, (ch + 7) // 8
                unit = 0
                for by in range(nby):
                    for bx in range(nbx):
                        if restart_interval and unit and unit % restart_interval == 0:
                            if not br.sync_restart():
                                return None
                            pred = [0] * len(comps)
                            eobrun = 0
                        unit += 1
                        zz = coefs[ci][by * strides[ci] + bx]
                        if ss == 0:
                            if ah == 0:
                                dc_h = huff.get((0, dct))
                                if dc_h is None:
                                    return None
                                size = dc_h.decode(br)
                                diff = _extend(br.bits(size), size) if size else 0
                                pred[ci] += diff
                                zz[0] = pred[ci] << al
                            else:
                                if br.bit():
                                    zz[0] |= 1 << al
                            continue
                        ac_h = huff.get((1, act))
                        if ac_h is None:
                            return None
                        if ah == 0:
                            if eobrun > 0:
                                eobrun -= 1
                                continue
                            k = ss
                            while k <= se:
                                sym = ac_h.decode(br)
                                r, sz = sym >> 4, sym & 0x0F
                                if sz == 0:
                                    if r == 15:  # ZRL
                                        k += 16
                                        continue
                                    eobrun = (1 << r) - 1 + (br.bits(r) if r else 0)
                                    break  # EOBn: this block done
                                k += r
                                if k > se:
                                    return None
                                zz[k] = _extend(br.bits(sz), sz) << al
                                k += 1
                        else:
                            # AC successive-approximation refinement
                            # (T.81 G.1.2.3 / the jdphuff algorithm):
                            # newly significant ±2^Al coefficients by
                            # zero-history run length; one correction
                            # bit per already-nonzero coefficient
                            # passed; EOBn covers whole blocks whose
                            # remaining coefficients get correction
                            # bits only
                            p1 = 1 << al

                            def correct(kk: int) -> None:
                                if br.bit():
                                    if zz[kk] > 0 and not (zz[kk] & p1):
                                        zz[kk] += p1
                                    elif zz[kk] < 0 and not (-zz[kk] & p1):
                                        zz[kk] -= p1

                            k = ss
                            if eobrun > 0:
                                eobrun -= 1
                                for kk in range(k, se + 1):
                                    if zz[kk]:
                                        correct(kk)
                                continue
                            while k <= se:
                                sym = ac_h.decode(br)
                                r, sz = sym >> 4, sym & 0x0F
                                val = 0
                                if sz == 0:
                                    if r != 15:
                                        eobrun = (1 << r) - 1 + (
                                            br.bits(r) if r else 0
                                        )
                                        break
                                    # ZRL: skip 16 zero-history slots
                                elif sz == 1:
                                    val = p1 if br.bit() else -p1
                                else:
                                    return None
                                while k <= se:
                                    if zz[k]:
                                        correct(k)
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if val and k <= se:
                                    zz[k] = val
                                k += 1
                            # EOB signaled mid-block: correction bits
                            # for the block's remaining nonzero coeffs
                            if k <= se:
                                for kk in range(k, se + 1):
                                    if zz[kk]:
                                        correct(kk)
        except (EOFError, ValueError):
            return None
        # resynchronize on the terminating marker (skip pad bits and
        # any RSTn the loop didn't consume)
        pos = br.pos
        while pos + 1 < len(b):
            if b[pos] == 0xFF and b[pos + 1] not in (0x00,) and not (
                0xD0 <= b[pos + 1] <= 0xD7
            ):
                return pos
            pos += 1
        return len(b)

    i = 2
    saw_scan = False
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xD9:
            break
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (ln,) = struct.unpack_from(">H", b, i + 2)
        body = b[i + 4 : i + 2 + ln]
        if marker == 0xDB:
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                if pq != 0:
                    return None  # 16-bit tables: out of envelope
                qt[tq] = list(body[p + 1 : p + 65])
                p += 65
        elif marker == 0xC4:
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(body[p + 17 : p + 17 + nv])
                huff[(tc, th)] = _HuffDecoder(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            if body[0] != 8:
                return None
            h, w = struct.unpack_from(">HH", body, 1)
            nc = body[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                if (hv >> 4) not in (1, 2) or (hv & 0x0F) not in (1, 2):
                    return None  # sampling factors beyond 2
                comps.append((cid, tq, hv))
            alloc()
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            return None  # non-baseline/non-progressive SOF
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:
            if not comps:
                return None
            nxt = decode_scan(body, i + 2 + ln)
            if nxt is None:
                return None
            saw_scan = True
            i = nxt
            continue
        i += 2 + ln
    if not saw_scan or w is None:
        return None

    # dequantize + IDCT + assemble from the finished coefficients
    comp_by_idx = [qt.get(tq) for _, tq, _ in comps]
    planes = [[0] * (strides[ci] * 8 * mcuy * 8 * vs[ci]) for ci in range(len(comps))]
    for ci in range(len(comps)):
        q = comp_by_idx[ci]
        if q is None:
            return None
        stride_px = strides[ci] * 8
        nby = mcuy * vs[ci]
        for bi, zz in enumerate(coefs[ci]):
            coef = [0.0] * 64
            for k in range(64):
                coef[_JPEG_ZZ[k]] = zz[k] * q[k]
            px = _idct8(coef)
            by, bx = divmod(bi, strides[ci])
            if by >= nby:
                return None
            plane = planes[ci]
            for yy in range(8):
                row = (by * 8 + yy) * stride_px + bx * 8
                for xx in range(8):
                    v = round(px[yy * 8 + xx]) + 128
                    plane[row + xx] = 0 if v < 0 else (255 if v > 255 else v)

    rgb = bytearray(w * h * 3)
    pxstrides = [s8 * 8 for s8 in strides]
    if len(comps) == 3:
        for y in range(h):
            for x in range(w):
                yy = planes[0][(y * vs[0] // vmax) * pxstrides[0] + (x * hs[0] // hmax)]
                cb = planes[1][(y * vs[1] // vmax) * pxstrides[1] + (x * hs[1] // hmax)] - 128
                cr = planes[2][(y * vs[2] // vmax) * pxstrides[2] + (x * hs[2] // hmax)] - 128
                r = round(yy + 1.402 * cr)
                g = round(yy - 0.344136 * cb - 0.714136 * cr)
                bl = round(yy + 1.772 * cb)
                o = (y * w + x) * 3
                rgb[o] = 0 if r < 0 else (255 if r > 255 else r)
                rgb[o + 1] = 0 if g < 0 else (255 if g > 255 else g)
                rgb[o + 2] = 0 if bl < 0 else (255 if bl > 255 else bl)
    elif len(comps) == 1:
        for y in range(h):
            for x in range(w):
                v = planes[0][y * pxstrides[0] + x]
                o = (y * w + x) * 3
                rgb[o] = rgb[o + 1] = rgb[o + 2] = v
    else:
        return None
    return w, h, bytes(rgb)


def jpeg_pixel_stats(assets: DataFrame) -> DataFrame:
    """REAL JPEG decode (baseline + progressive) → per-image exact
    integer channel sums (shared ``_rgb_pixel_stats`` shape)."""
    return _rgb_pixel_stats(assets, decode_jpeg_pixels)


# ---- IMA ADPCM audio decoder -----------------------------------------

_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEXES = [-1, -1, -1, -1, 2, 4, 6, 8]


def decode_adpcm_wav(b: bytes) -> tuple[int, list[int]] | None:
    """REAL compressed-AUDIO decode: RIFF/WAVE with wFormatTag 0x0011
    (IMA ADPCM), mono — chunk walk, then the data chunk iterated in
    ``nBlockAlign`` strides (IMA blocks are independent: each carries
    its own 4-byte header with the block's initial predictor + step
    index), the standard IMA expansion per 4-bit nibble (delta =
    (step·mantissa)/8 via the shift-add identity, sign bit, clamped
    predictor, table-walked step index), and ``wSamplesPerBlock``
    honored PER BLOCK (drops each block's pad-nibble phantom sample,
    not the whole tail of the file). Returns (sample_rate, samples)
    or None for non-ADPCM payloads."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data = None
    fact_samples = None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            data = body
        elif tag == b"fact" and len(body) >= 4:
            # dwSampleLength — total REAL samples; required for
            # compressed WAVE formats, trims the final block's pad.
            # Guard on the CLAMPED body, not the declared ln: a
            # truncated buffer may end mid-chunk and this decoder
            # never raises on truncation.
            (fact_samples,) = struct.unpack_from("<I", body, 0)
        pos += 8 + ln + (ln & 1)
    if fmt is None or data is None or len(fmt) < 16:
        return None
    tag_, channels, rate = struct.unpack_from("<HHI", fmt, 0)
    if tag_ != 0x0011 or channels != 1 or len(data) < 4:
        return None
    # the fmt extension carries wSamplesPerBlock; honoring it PER
    # BLOCK keeps each block's odd-count pad nibble from decoding as
    # a phantom sample (an earlier form applied it to the whole file,
    # silently dropping every block after the first)
    (block_align,) = struct.unpack_from("<H", fmt, 12)
    samples_per_block = None
    if len(fmt) >= 20:
        (cb,) = struct.unpack_from("<H", fmt, 16)
        if cb >= 2:
            (samples_per_block,) = struct.unpack_from("<H", fmt, 18)
    if block_align < 4:
        block_align = len(data)  # degenerate header: treat as one block
        # (4 is valid — header-only blocks, one sample each)
    samples: list[int] = []
    for start in range(0, len(data), block_align):
        block = data[start : start + block_align]
        if len(block) < 4:
            break  # trailing runt — no decodable header
        pred, index = struct.unpack_from("<hB", block, 0)
        index = max(0, min(88, index))
        blk = [pred]
        for byte in block[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                step = _IMA_STEPS[index]
                delta = step >> 3
                if nib & 1:
                    delta += step >> 2
                if nib & 2:
                    delta += step >> 1
                if nib & 4:
                    delta += step
                pred = pred - delta if nib & 8 else pred + delta
                pred = max(-32768, min(32767, pred))
                index = max(0, min(88, index + _IMA_INDEXES[nib & 7]))
                blk.append(pred)
        if samples_per_block:
            blk = blk[:samples_per_block]
        samples.extend(blk)
    if not samples:
        return None
    if fact_samples is not None:
        samples = samples[:fact_samples]
    return rate, samples


def adpcm_energy(assets: DataFrame) -> DataFrame:
    """IMA-ADPCM decode → the same exact-integer energy contract as
    wav_meta_energy (narrow mapInPandas, payloads never shuffle)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                ("asset_id", "sample_rate", "n_samples", "sum_sq", "peak_abs")}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                decoded = decode_adpcm_wav(bytes(payload))
                if decoded is None:
                    continue
                rate, samples = decoded
                out["asset_id"].append(aid)
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(samples))
                out["sum_sq"].append(sum(s * s for s in samples))
                out["peak_abs"].append(max(abs(s) for s in samples))
            yield pd.DataFrame(out)

    return assets.select("asset_id", "payload").mapInPandas(
        fn,
        "asset_id BIGINT, sample_rate INT, n_samples INT, sum_sq BIGINT, peak_abs INT",
    )


def decode_mjpeg_avi(b: bytes) -> list[tuple[int, int, int, bytes]] | None:
    """REAL compressed-VIDEO decode: RIFF/AVI container walk (LIST
    recursion to the movi chunk) + per-frame Motion-JPEG decode via
    ``decode_jpeg_pixels`` — every '00dc'/'00db' chunk is a complete
    JPEG. Returns [(frame_idx, width, height, rgb), ...] or None for
    non-AVI or TRUNCATED payloads / no decodable frames (structural
    reads past the buffer reject, never raise)."""
    try:
        return _decode_mjpeg_avi_inner(b)
    except (struct.error, IndexError, ValueError):
        return None


def _decode_mjpeg_avi_inner(b: bytes) -> list[tuple[int, int, int, bytes]] | None:
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None

    def find_movi(pos: int, end: int) -> tuple[int, int] | None:
        while pos + 8 <= end:
            tag = b[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", b, pos + 4)
            if tag == b"LIST" and pos + 12 <= end:
                kind = b[pos + 8 : pos + 12]
                if kind == b"movi":
                    return pos + 12, pos + 8 + ln
                inner = find_movi(pos + 12, pos + 8 + ln)
                if inner:
                    return inner
            pos += 8 + ln + (ln & 1)
        return None

    movi = find_movi(12, len(b))
    if movi is None:
        return None
    pos, end = movi
    frames = []
    fidx = 0
    while pos + 8 <= end:
        tag = b[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + ln]
        if tag[2:4] in (b"dc", b"db"):
            decoded = decode_jpeg_pixels(body)
            if decoded is not None:
                w, h, rgb = decoded
                frames.append((fidx, w, h, rgb))
            fidx += 1
        pos += 8 + ln + (ln & 1)
    return frames or None


def mjpeg_frame_stats(assets: DataFrame) -> DataFrame:
    """MJPEG-AVI decode → per-frame exact integer channel sums (the
    compressed twin of y4m_frame_stats; same narrow mapInPandas
    shape)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                ("asset_id", "frame_idx", "width", "height", "sum_r", "sum_g", "sum_b")}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                frames = decode_mjpeg_avi(bytes(payload))
                if frames is None:
                    continue
                for fidx, w, h, rgb in frames:
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(fidx)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["sum_r"].append(sum(rgb[0::3]))
                    out["sum_g"].append(sum(rgb[1::3]))
                    out["sum_b"].append(sum(rgb[2::3]))
            yield pd.DataFrame(out)

    return assets.select("asset_id", "payload").mapInPandas(
        fn,
        "asset_id BIGINT, frame_idx INT, width INT, height INT, "
        "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT",
    )
