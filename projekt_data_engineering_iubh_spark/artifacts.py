"""The cache of JVM artifacts a session provisions for itself.

``session.get_spark`` builds two files before or after it launches the
driver JVM: the class-data-sharing archive (``cds.py``) and the jar of
the local file system (``localfs.py``). Both live under
``${XDG_CACHE_HOME:-~/.cache}/spark-graft/<kind>/``, one file per key,
and follow one life cycle:

* a session writes the artifact into a session file named
  ``<key>.<pid>-<token>.<suffix>``, which no other session reads;
* it publishes the complete file under ``<key>.<ext>`` by a hard link
  after an fsync. The first publisher wins: a published file is never
  replaced, so a JVM that has it on its class path, or mapped, keeps
  the bytes it started with;
* session files whose owner has gone, or that are older than
  ``STALE_S``, are swept by a later session.
"""

from __future__ import annotations

import glob
import hashlib
import os
import secrets

# session files whose owner still runs are kept up to this age
STALE_S = 24 * 3600.0


def cache_dir(kind: str) -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "spark-graft", kind)


def stat_line(path: str) -> str:
    try:
        st = os.stat(path)
        return f"{path} {st.st_size} {st.st_mtime_ns}"
    except OSError:
        return f"{path} -"


def digest(lines: list[str]) -> str:
    """The key of an artifact built from what ``lines`` describe."""
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def session_stem(directory: str, key: str) -> str:
    """Path prefix of this session's files for ``key`` in ``directory``."""
    return os.path.join(directory, f"{key}.{os.getpid()}-{secrets.token_hex(3)}")


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def publish(tmp: str, final: str) -> bool:
    """Publish the complete session file ``tmp`` as ``final`` unless a
    file is there already; ``tmp`` is gone either way. True when this
    call published."""
    try:
        _fsync(tmp)
        os.link(tmp, final)
    except FileExistsError:
        return False
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    _fsync(os.path.dirname(final))
    return True


def _owner_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def sweep(directory: str, now: float) -> list[str]:
    """Remove session files (``<key>.<pid>-<token>.*``) whose owning
    process has gone or that are older than ``STALE_S``."""
    removed = []
    for path in glob.glob(os.path.join(directory, "*.*-*.*")):
        try:
            pid = int(os.path.basename(path).split(".")[1].split("-")[0])
            stale = not _owner_alive(pid) or now - os.path.getmtime(path) > STALE_S
        except (ValueError, IndexError, OSError):
            continue
        if stale and pid != os.getpid():
            try:
                os.unlink(path)
                removed.append(path)
            except OSError:
                pass
    return removed
