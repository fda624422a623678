"""The one commit primitive every table format publishes through.

A commit becomes visible when a file appears under its final name:
a Delta log entry, an Iceberg ``v<N>.metadata.json``, a Hudi completed
instant, a managed table's ``_LATEST`` pointer. Both functions stage
the bytes in a dot-prefixed ``.tmp`` file in the target's directory,
flush and fsync it, and only then publish it in one filesystem step,
so a crash at any point leaves the old state or the new one — never a
half-written file under a name a reader resolves. A crash before the
publish can leave the staged ``.<name>.<hex>.tmp`` file behind; no
log, metadata or timeline listing matches that name.
"""

from __future__ import annotations

import os
import uuid


def _stage(path: str, data: bytes | str) -> str:
    """Write ``data`` durably to a fresh temp file beside ``path``;
    return the temp file's path."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "xb") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def replace_file(path: str, data: bytes | str) -> None:
    """Publish ``data`` at ``path``, atomically replacing any file
    already there (pointers: ``_LATEST``, ``version-hint.text``, refs,
    ledgers, checkpoint hints)."""
    tmp = _stage(path, data)
    try:
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def create_file(path: str, data: bytes | str) -> None:
    """Publish ``data`` at ``path`` only if that name is free — the
    put-if-absent a log-structured commit needs. ``os.link`` refuses
    an existing name with ``FileExistsError``, so of two writers racing
    for one version exactly one wins and the other sees the error."""
    tmp = _stage(path, data)
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)
