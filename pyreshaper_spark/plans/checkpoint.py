"""Driver checkpoint — the `.s2s` Specifier + write-mode analog.

A small JSON file recording, per run: which pipeline steps committed,
the attempt counter, the pinned salt count and the in-flight append
cycle's pins. What has been ingested is not recorded here but in the
ledger of the ``series_enc`` snapshot. Saved with
write-tmp-then-``os.replace`` (atomic) and ALWAYS after the
corresponding data commit (write-ahead ordering, SURVEY.md §3.2) — so
a crash between data commit and checkpoint save re-runs an idempotent
step, never skips one.

Reference analog: `Specifier.write` → `.s2s` pickle plus the
skip-existing / overwrite output checks [U: specification.py ::
Specifier.write; scripts/s2srun write-mode flags].
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field


@dataclass
class Checkpoint:
    #: committed pipeline steps, e.g. "tier:60", "series", "encode"
    steps_done: list[str] = field(default_factory=list)
    #: monotonically increasing attempt counter (lineage run id)
    attempt: int = 0
    #: nsalt resolved on the first encode run (0 = not yet resolved).
    #: Pinned so a resume with changed input or cfg.nsalt=0 (auto) keeps
    #: the (source, salt) chunk identities of already-committed chunks.
    nsalt: int = 0
    #: in-flight append-cycle pins: {"bases": {table: snapshot_id},
    #: "pending": [input files]} — established once per append cycle;
    #: every incremental table update is a deterministic function of
    #: these immutable pins, so replay after a crash at ANY step
    #: re-commits identical content. Cleared when the cycle completes.
    cycle: dict | None = None

    def step_done(self, step: str) -> bool:
        return step in self.steps_done

    def mark_step(self, step: str) -> None:
        if step not in self.steps_done:
            self.steps_done.append(step)

    # -- persistence -----------------------------------------------------
    @classmethod
    def load(cls, path: str) -> "Checkpoint":
        if not os.path.exists(path):
            return cls()
        with open(path) as f:
            return cls(**json.load(f))

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(self), f)
        os.replace(tmp, path)
