"""COPY INTO with load history (Snowflake stage-ingest / Snowpipe and
Databricks Auto Loader semantics): ingest ONLY files not already loaded.

Snowflake's ``COPY INTO table FROM @stage`` keeps 64 days of load
history and silently skips files it has seen (by name + content
checksum with ``FORCE=FALSE``); Snowpipe and Auto Loader provide the
same exactly-once-per-file contract for continuous drops. A warehouse
replacement needs that surface for the standard landing-zone pattern:
producers drop files, the loader runs on a schedule, every file lands
exactly once no matter how often the loader runs or crashes.

Design:

- the LOAD HISTORY is a JSON manifest next to the target table — one
  entry per ingested file recording (relative name, size, mtime_ns,
  content fingerprint). A file is "new" when its fingerprint is absent
  from the manifest, so a re-dropped identical file is skipped while a
  re-dropped CHANGED file (same name, new content) loads again under
  ``on_changed='reload'`` or raises under ``'error'`` (Snowflake's
  LOAD_UNCERTAIN_FILES distinction).
- ingest is APPEND of only the new files' rows: Spark reads exactly
  those paths (no directory re-scan of loaded data), so each run costs
  O(new files), not O(stage) — the Auto Loader property that matters
  when the landing zone holds years of history.
- commit order makes the crash contract at-least-once-then-skip: data
  appends FIRST, the manifest commits LAST (atomic replace). A crash
  between the two re-loads those files next run — producing duplicate
  rows exactly like Snowflake's own "load uncertainty" window — and the
  manifest-first alternative would silently LOSE files instead, the
  unrecoverable direction. Pair with a downstream dedup key when
  duplicates matter.

File fingerprints use size + xxhash64 of the first/last 1 MiB — cheap,
driver-side, and content-sensitive; full-content hashing is a flag.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..functions.local_frame import empty_df


def _fingerprint(path: str, full: bool = False) -> str:
    import hashlib

    st = os.stat(path)
    h = hashlib.md5()
    with open(path, "rb") as f:
        if full or st.st_size <= 2 * 1024 * 1024:
            for chunk in iter(lambda: f.read(1024 * 1024), b""):
                h.update(chunk)
        else:
            h.update(f.read(1024 * 1024))
            f.seek(-1024 * 1024, os.SEEK_END)
            h.update(f.read(1024 * 1024))
    return f"{st.st_size}-{h.hexdigest()}"


class CopyInto:
    """Exactly-once-per-file loader from a landing directory into an
    append table, with persistent load history."""

    def __init__(
        self,
        spark: SparkSession,
        stage_dir: str,
        target_dir: str,
        pattern: str = "*.jsonl",
        full_fingerprint: bool = False,
    ):
        self.spark = spark
        self.stage_dir = stage_dir
        self.target_dir = target_dir
        self.pattern = pattern
        self.full_fingerprint = full_fingerprint
        os.makedirs(target_dir, exist_ok=True)

    @property
    def _history_path(self) -> str:
        return os.path.join(self.target_dir, "_load_history.json")

    def load_history(self) -> dict[str, dict]:
        if not os.path.exists(self._history_path):
            return {}
        with open(self._history_path) as f:
            return json.load(f)

    def _commit_history(self, history: dict[str, dict]) -> None:
        tmp = f"{self._history_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(history, f, sort_keys=True)
        os.replace(tmp, self._history_path)

    def pending_files(self, on_changed: str = "reload") -> list[str]:
        """Stage files not yet in the load history (changed files per
        ``on_changed``: ``'reload'`` load again, ``'skip'`` leave,
        ``'error'`` raise — Snowflake's uncertain-file postures)."""
        if on_changed not in ("reload", "skip", "error"):
            raise ValueError(f"unknown on_changed: {on_changed!r}")
        history = self.load_history()
        todo = []
        for path in sorted(glob.glob(os.path.join(self.stage_dir, self.pattern))):
            rel = os.path.relpath(path, self.stage_dir)
            fp = _fingerprint(path, self.full_fingerprint)
            seen = history.get(rel)
            if seen is None:
                todo.append(path)
            elif seen["fingerprint"] != fp:
                if on_changed == "reload":
                    todo.append(path)
                elif on_changed == "error":
                    raise RuntimeError(
                        f"copy_into: staged file changed after load: {rel} "
                        f"(was {seen['fingerprint']}, now {fp})"
                    )
        return todo

    def run(self, schema, on_changed: str = "reload") -> dict:
        """One COPY INTO run: append the pending files' rows, then commit
        the history. Returns ``{"files_loaded": n, "rows_loaded": n,
        "files_skipped": n}``."""
        all_staged = glob.glob(os.path.join(self.stage_dir, self.pattern))
        todo = self.pending_files(on_changed)
        result = {
            "files_loaded": len(todo),
            "rows_loaded": 0,
            "files_skipped": len(all_staged) - len(todo),
        }
        if not todo:
            return result
        df = self.spark.read.schema(schema).json(todo)
        result["rows_loaded"] = df.count()
        df.write.mode("append").parquet(os.path.join(self.target_dir, "data"))
        history = self.load_history()
        for path in todo:
            rel = os.path.relpath(path, self.stage_dir)
            history[rel] = {
                "fingerprint": _fingerprint(path, self.full_fingerprint)
            }
        self._commit_history(history)  # commit point — AFTER the append
        return result

    def read(self, schema=None) -> DataFrame:
        data = os.path.join(self.target_dir, "data")
        if not os.path.exists(data):
            if schema is None:
                raise ValueError("nothing loaded yet: an empty read needs a schema")
            return empty_df(self.spark, schema)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(data)
