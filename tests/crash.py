"""Crash injection for the exactly-once commit protocol
(`streaming.ops._exactly_once_sink`): make one commit step raise once,
so a test can restart on the same checkpoint and check recovery."""

from __future__ import annotations

import os
import shutil

from epe_data_wrangling_spark.streaming import ops

#: the commit's steps, in order: the step has written the stage; the
#: meta is written into the stage; the target is renamed away but the
#: stage not yet promoted; the stage is promoted but the old target not
#: yet deleted
COMMIT_POINTS = ["after_step", "after_meta_write", "between_renames", "before_old_rmtree"]


class CrashOnce:
    """Delegate to ``real`` but raise once when ``hit(*args)``."""

    def __init__(self, real, hit):
        self.real, self.hit, self.fired = real, hit, False

    def __call__(self, *args, **kw):
        if not self.fired and self.hit(*args):
            self.fired = True
            raise RuntimeError("injected crash")
        return self.real(*args, **kw)


class ModuleProxy:
    """A stand-in for a module imported by `streaming.ops` with one
    function replaced — the crash stays local to the commit code."""

    def __init__(self, module, name, fn):
        self._module, self._name, self._fn = module, name, fn

    def __getattr__(self, attr):
        return self._fn if attr == self._name else getattr(self._module, attr)


def crash_commit_at(monkeypatch, point: str, target: str, batch_id: int) -> None:
    """Make the commit of ``batch_id`` into ``target`` raise once at
    ``point`` (one of `COMMIT_POINTS`)."""
    stage = f"{target}.stage-{batch_id}"
    if point == "after_step":
        monkeypatch.setattr(ops, "_commit_target", CrashOnce(
            ops._commit_target, lambda st, *a: st == stage))
    elif point == "after_meta_write":
        monkeypatch.setattr(ops, "_atomic_swap", CrashOnce(
            ops._atomic_swap, lambda st, *a: st == stage))
    elif point == "between_renames":
        monkeypatch.setattr(ops, "os", ModuleProxy(os, "rename", CrashOnce(
            os.rename, lambda src, dst: src == stage)))
    elif point == "before_old_rmtree":
        monkeypatch.setattr(ops, "shutil", ModuleProxy(shutil, "rmtree", CrashOnce(
            shutil.rmtree, lambda p, *a: p == f"{target}.old-{batch_id}")))
    else:
        raise ValueError(f"unknown commit point {point!r}")
