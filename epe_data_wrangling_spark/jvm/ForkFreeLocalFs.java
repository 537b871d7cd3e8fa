package epe.hadoop;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local filesystem without a forked process per file.
 *
 * Without libhadoop, RawLocalFileSystem runs {@code chmod} for every
 * new file, checksum sidecar and directory, and {@code readlink} for
 * every link-status lookup (each FileContext rename makes several).
 * Here both are answered in the JVM; everything else, checksums
 * included, is the stock local filesystem.
 */
public final class ForkFreeLocalFs {
  private ForkFreeLocalFs() {}

  /** {@code fs.file.impl}: the checksummed FileSystem over {@link Raw}. */
  public static class FileSystem extends LocalFileSystem {
    public FileSystem() {
      super(new Raw());
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl}: the checksummed FileContext filesystem over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** The stock RawLocalFs, over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }

  public static class Raw extends RawLocalFileSystem {
    /** The same chmod(2) as the stock shell command; modes with sticky,
     *  setuid or setgid bits keep the stock path. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();  // not toString: FileContext passes FsCreateModes
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission is declared owner rwx, group rwx, others rwx
      PosixFilePermission[] bits = PosixFilePermission.values();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(bits[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /** For a path that is not a link the stock answer is its
     *  getFileStatus, after a forked readlink that prints nothing. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }
}
