"""Per-corpus local index cache paths, shared by every persisted-index
query entry (bm25_pruned, similarity_pq_pruned, similarity_ivf_pruned).

A cached index lets repeated queries against an UNCHANGED corpus skip
the build entirely — the probe-only steady state that makes persisted
indexes worth having. The path is keyed by the source table's identity
(path + mtime + size) so a regenerated corpus gets a fresh build, and
the cache root is a per-user 0700 directory validated with lstat
(ADVICE r6 #1 + r7 #4: a predictable /tmp name can be squatted by a
pre-planted directory, symlink, or file — all three fail loudly here
instead of serving or redirecting a poisoned index).
:func:`file_identity` is that key, shared with catalog's schema cache.
"""

from __future__ import annotations

import hashlib
import os
import stat
import tempfile


def secure_cache_root() -> str:
    """The per-user cache root, created 0700 and validated: must be a
    real directory (not a symlink — lstat), owned by us, with no
    group/other bits."""
    root = os.path.join(tempfile.gettempdir(), f"etl_knlp_cache_{os.getuid()}")
    try:
        # single-syscall creation; EEXIST falls through to validation
        os.mkdir(root, mode=0o700)
    except FileExistsError:
        pass
    st_root = os.lstat(root)
    if not stat.S_ISDIR(st_root.st_mode):
        raise ValueError(
            f"cache root {root} exists but is not a directory (symlink or "
            "file pre-planted at the predictable name) — refusing to build "
            "or trust an index there"
        )
    if st_root.st_uid != os.getuid():
        raise ValueError(
            f"cache root {root} is owned by uid {st_root.st_uid}, not us — "
            "refusing to build or trust an index there"
        )
    if st_root.st_mode & 0o077:
        os.chmod(root, 0o700)
    return root


def file_identity(path: str) -> tuple[str, int, int]:
    """(path, mtime_ns, size): the identity every cache keyed on a table
    file uses, so a file rewritten in place gets a new key. For a
    directory table the mtime is the directory's, which parquet writers
    bump on commit."""
    st = os.stat(path)
    return path, st.st_mtime_ns, st.st_size


def corpus_cache_path(sf_dir: str, table: str, prefix: str) -> str:
    """Deterministic per-corpus index location keyed by the source
    table's identity (path + mtime + size), so repeated queries against
    an unchanged corpus reuse the artifact and a regenerated corpus
    gets a fresh build (:func:`file_identity`)."""
    ident = file_identity(os.path.join(sf_dir, f"{table}.parquet"))
    key = hashlib.md5(":".join(map(str, ident)).encode()).hexdigest()[:12]
    return os.path.join(secure_cache_root(), f"{prefix}_{key}")
