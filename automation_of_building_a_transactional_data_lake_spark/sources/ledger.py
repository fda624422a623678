"""Incremental file source: processed-file ledger (S3).

The reference gets only-new-files semantics from Glue job bookmarks
(``cdk_stacks/glue_stack.py:108``; ``transformation_ctx='cdcDF'`` at
``src/hudi/hudi-cdc-load.py:67``) — state the Glue service keeps and
commits at ``job.commit()`` *after* the merges succeed. This module is
that capability as an explicit, inspectable manifest:

- ``new_files``: discover parquet files under a raw-zone directory
  (recursive, like the reference's ``recurse`` scan option) and subtract
  those already processed.
- ``commit``: record files as processed — called only after a
  successful merge, so a failed job re-processes the same batch
  (at-least-once, idempotent because MERGE is idempotent per key).

The ledger write is write-temp + rename (atomic on POSIX): a reader or
a crashed writer never observes a torn manifest.

Scale note: at 100 TB the raw zone holds millions of files; this
listing is the same O(files) the Glue bookmark or a Structured
Streaming file-source checkpoint performs. The manifest stores one path
per line of *processed* files only; for unbounded retention a real
deployment would compact it by high-watermark timestamp — out of scope
here, noted for honesty.
"""

from __future__ import annotations

import os

from ..formats.atomic import replace_file

_LEDGER_DIR = "_ledger"
_LEDGER_FILE = "processed"


class FileLedger:
    """Per-table processed-file manifest stored next to the table."""

    def __init__(self, table_path: str) -> None:
        self.dir = os.path.join(table_path, _LEDGER_DIR)
        self.path = os.path.join(self.dir, _LEDGER_FILE)

    def processed(self) -> set[str]:
        if not os.path.isfile(self.path):
            return set()
        with open(self.path, encoding="utf-8") as f:
            return {line.strip() for line in f if line.strip()}

    @staticmethod
    def discover(raw_dir: str) -> list[str]:
        """Recursive parquet-file listing of a raw-zone directory
        (reference S1 scan options ``recurse=True, groupFiles='none'``,
        ``src/hudi/hudi-initial-load.py:55-63``)."""
        if not os.path.isdir(raw_dir):
            return []
        out: list[str] = []
        for root, _dirs, files in os.walk(raw_dir):
            for fname in files:
                if fname.endswith(".parquet") and not fname.startswith(("_", ".")):
                    out.append(os.path.join(root, fname))
        return sorted(out)

    def new_files(self, raw_dir: str) -> list[str]:
        done = self.processed()
        return [p for p in self.discover(raw_dir) if p not in done]

    def commit(self, files: list[str]) -> None:
        """Append ``files`` to the manifest atomically. Call only after
        the downstream merge commits (reference ``job.commit()``
        ordering, ``src/hudi/hudi-cdc-load.py:242``)."""
        merged = sorted(self.processed() | set(files))
        os.makedirs(self.dir, exist_ok=True)
        replace_file(self.path, "\n".join(merged) + "\n")
