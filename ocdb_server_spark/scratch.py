"""Per-process scratch directories for sink / round-trip operators,
and the package's one atomic file publish (`publish`).

Two hazards pull in opposite directions:

- CONCURRENCY: a fixed dir keyed only by the sf tag lets one session
  unlink files another session's lazy plan (binaryFile, json reader)
  is about to read — so the dir name must carry a per-process
  discriminator.
- LITTER: a per-PID dir with cleanup code that only ever targets its
  own PID's dir is never deleted once the process exits — repeated
  pytest/bench runs would accumulate one full table copy per
  historical PID until the disk fills.

`scratch_dir` resolves both: the caller gets a fresh
`ocdb_spark_{kind}_{tag}_{pid}` dir, and before creating it the call
REAPS sibling dirs of the same (kind, tag) prefix whose owning
process is gone. Live processes' dirs are never touched; at any
moment at most one dir per (kind, tag, live process) exists.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

# Dead-by-age threshold for the PID-recycling backstop: 2 days. Scratch
# dirs live for one operator call (seconds); anything this old whose
# "owner" merely answers os.kill(pid, 0) is a recycled PID's orphan.
_REAP_AGE_S = 2 * 24 * 3600


def _pid_alive(pid: int) -> bool:
    """True if `pid` names a live process we must not disturb.
    PermissionError means the pid exists but belongs to another user
    — treat as alive (never reap what we cannot verify is dead)."""
    if pid == os.getpid():
        return True
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def scratch_path(kind: str, sf_dir: str) -> str:
    """READ-ONLY twin of scratch_dir: the path this process's
    (kind, sf_dir) scratch resolves to, with no reaping, no rmtree,
    no mkdir. For tests/inspection — calling scratch_dir() to learn
    the path would reap and EMPTY the very dir under inspection
    (round-9 review: the naming scheme was hand-reconstructed in
    three test files)."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return os.path.join(
        tempfile.gettempdir(), f"ocdb_spark_{kind}_{tag}_{os.getpid()}"
    )


def scratch_dir(kind: str, sf_dir: str, fresh: bool = True) -> str:
    """Return a scratch dir private to this process for (kind, sf_dir),
    reaping same-prefix dirs left by dead processes. fresh=True (the
    sink-op default) empties the dir; fresh=False KEEPS existing
    content — the persisted-artifact mode (ANN index cache): callers
    that build-once-reuse-many need the previous call's files to
    still be there."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = tempfile.gettempdir()
    prefix = f"ocdb_spark_{kind}_{tag}_"
    try:
        for name in os.listdir(base):
            if not name.startswith(prefix):
                continue
            suffix = name[len(prefix):]
            # Reap ONLY <prefix><digits> dirs whose PID is dead. A
            # non-numeric suffix is NOT ours to judge: when one
            # (kind, tag) string is a prefix of another tag plus '_'
            # (e.g. tag 'sf0_1' vs 'sf0_1_v2'), a live sibling
            # session's 'ocdb_spark_k_sf0_1_v2_1234' matches this
            # prefix with suffix 'v2_1234' — deleting it would be
            # exactly the cross-session race this module exists to
            # prevent (round-8 review finding).
            if not suffix.isdigit():
                continue
            full = os.path.join(base, name)
            pid = int(suffix)
            if not _pid_alive(pid):
                shutil.rmtree(full, ignore_errors=True)
                continue
            if pid == os.getpid():
                # never age-reap our OWN dir: a fresh=False artifact
                # (ANN index) is written once and only read after, so
                # reads don't move mtime — the 2-day backstop would
                # delete a live serving process's index out from under
                # its lazy plans (round-12 review). The utime below
                # refreshes it on every access instead.
                continue
            # PID-recycling backstop (round-8 ADVICE): os.kill(pid,0)
            # says "alive" even when a crashed session's PID was later
            # recycled by an UNRELATED process — that dir would never
            # reap. Age-gate it: any OTHER session's same-prefix dir
            # (our own is excluded by the own-pid guard above — a
            # fresh=False ANN index would NOT be recreated) untouched
            # for > _REAP_AGE_S is an
            # orphaned table copy, not a live session's working set;
            # a live session's scratch is written and read within one
            # operator call, minutes not days. "Untouched" must look at
            # the NEWEST mtime among the root and its direct children
            # (round-9 ADVICE): POSIX only bumps a directory's mtime
            # when direct entries are added/removed, so an op writing
            # into root/'t' or root/'fact' never refreshes the root
            # itself — the root's stat alone could flag a live
            # long-running session's in-use dir as an orphan.
            try:
                newest = os.stat(full).st_mtime
                for child in os.listdir(full):
                    try:
                        newest = max(
                            newest,
                            os.stat(os.path.join(full, child)).st_mtime,
                        )
                    except OSError:
                        pass  # child raced away mid-scan
                if time.time() - newest > _REAP_AGE_S:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass  # raced with its owner — leave it
    except OSError:
        pass  # an unreadable tempdir must not fail the operator
    mine = scratch_path(kind, sf_dir)  # one copy of the naming scheme
    if fresh:
        shutil.rmtree(mine, ignore_errors=True)
    os.makedirs(mine, exist_ok=True)
    # Refresh mtime on every access: a fresh=False artifact dir is only
    # READ after its first build, and reads don't move mtime — without
    # this, an active >2-day process's index looks age-orphaned to its
    # SIBLINGS' backstop scans (the own-pid guard above only protects
    # against self-reaping).
    try:
        os.utime(mine)
    except OSError:
        pass
    return mine


def publish(path: str, write):
    """``write(f)`` into ``<path>.<pid>.tmp`` opened in binary mode,
    then ``os.replace`` it onto ``path``; returns what ``write``
    returns. A reader sees the old file or the whole new one, never a
    torn one. The PID in the tmp name keeps concurrent writers (two
    sweeps, a speculative task and its retry) from interleaving bytes;
    the last replace wins whole."""
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        n = write(f)
    os.replace(tmp, path)
    return n
