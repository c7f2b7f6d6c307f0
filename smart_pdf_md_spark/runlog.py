"""S9 log-sink parity: rotating JSON-lines run log.

The reference's only run record is a rotating log file
(/root/reference/src/smart_pdf_md/core.py:156-199): one JSON object per
line — ``{"ts", "level", "message"}`` with an ISO-8601 UTC timestamp — and
a single-backup rotation (when the file exceeds 1 MB it is renamed to
``<path>.1``, replacing any previous backup, and a fresh file starts).
Manifests cover the metrics/progress role on this side; this artifact
covers the human-auditable event-stream role, opt-in via ``--log-json``.

Like the reference, logging never raises — a full disk or a bad path must
not kill a 100 TB run over a log line.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

MAX_BYTES = 1_000_000  # reference core.py:156 rotation threshold


class JsonRunLog:
    """Append-only JSON-lines logger with single-backup rotation."""

    def __init__(self, path: str, max_bytes: int = MAX_BYTES):
        self.path = path
        self.max_bytes = max_bytes

    def _maybe_rotate(self) -> None:
        try:
            if os.path.exists(self.path) and \
                    os.path.getsize(self.path) > self.max_bytes:
                backup = self.path + ".1"
                try:
                    os.remove(backup)
                except OSError:
                    pass
                os.replace(self.path, backup)
        except OSError:
            pass

    def log(self, message: str, level: str = "INFO", **fields) -> None:
        line = json.dumps(
            {"ts": datetime.now(timezone.utc).isoformat(),
             "level": level.upper(), "message": message, **fields},
            ensure_ascii=False)
        try:
            self._maybe_rotate()
            with open(self.path, "a", encoding="utf-8") as f:
                f.write(line + "\n")
        except OSError:
            pass  # logging must never kill the run (core.py:194-199)

    def stage_hook(self):
        """Callback for run_kg(on_stage=...): one line per stage commit.
        The operator counters recorded in the stage's commit marker
        (e.g. the linking hot-bucket drop counters for the edges stage,
        resumed or not) land as extra JSON fields, so a log consumer can
        alert on drop rates without scraping stderr."""
        def on_stage(stage: str, resumed: bool,
                     metrics: dict | None = None) -> None:
            self.log(f"stage {stage} {'resumed' if resumed else 'committed'}",
                     stage=stage, resumed=resumed, **(metrics or {}))
        return on_stage
