"""Run configuration — the analog of the reference's ``Specifier``.

The reference pickles a ``Specifier`` (input file list, netcdf format,
compression level, output prefix/suffix, time-variant metadata list) to
a ``.s2s`` file and validates it with ``validate_types`` /
``validate_values`` [U: source/pyreshaper/specification.py ::
Specifier — citation status per SURVEY.md §0]. Here the job spec is a
frozen dataclass serialized to JSON; validation mirrors the reference's
two-phase (types, then values) check. The netcdf format's analog is
``input_format``: a parquet directory or an IcebergLite table. A spec
JSON with a key that is not a field fails to load with a ``TypeError``
naming that key; the fix is to drop the key. A removed field is such a
key: the encode shuffle's partition count, for one, is no longer a
setting, because AQE sizes it from the data (``operators.transpose``).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field, replace

#: Default retention-tier cascade: raw → 1 minute → 10 minutes → 1 hour
#: → 1 day. Each tier's bucket width must divide the next tier's width
#: exactly so cascading re-aggregation (sum of sums, min of mins, …)
#: is exact — the analog of the reference's lossless time concatenation.
DEFAULT_TIERS: tuple[tuple[str, int], ...] = (
    ("1m", 60),
    ("10m", 600),
    ("1h", 3600),
    ("1d", 86400),
)

#: Epoch origin for derived event time: 2024-01-01T00:00:00Z.
EPOCH0 = 1_704_067_200
#: Event-time horizon: one week of seconds.
HORIZON_S = 7 * 24 * 3600

_ALLOWED_WRITE_MODES = ("skip", "overwrite", "append")
_INPUT_FORMATS = ("parquet", "iceberglite")


@dataclass(frozen=True)
class TierSpec:
    """One retention tier (analog of one output time-series file class)."""

    name: str
    width_s: int  # bucket width in seconds
    retention_buckets: int | None = None  # None = keep everything


@dataclass(frozen=True)
class RunConfig:
    """Job specification (``Specifier`` analog).

    Field mapping to the reference:
    * ``input_path``        ← Specifier.input_file_list
    * ``output_path``       ← output_file_prefix/suffix
    * ``meta_once``         ← create_reshaper(once=...) once-file mode
    * ``write_mode``        ← s2srun skip/overwrite/append flags
    * ``tiers``             ← (new) retention cascade, the graft's output classes
    * ``nsalt``             ← (new) skew salting, analog of WeightBalanced
                              (0 = auto-size from the hottest source)
    """

    input_path: str
    output_path: str
    #: where the input lives: a parquet directory, or an IcebergLite
    #: table addressed as ``<root>::<table>[::<snapshot_id>]``
    input_format: str = "parquet"
    tiers: tuple[TierSpec, ...] = field(
        default_factory=lambda: tuple(TierSpec(n, w) for n, w in DEFAULT_TIERS)
    )
    nsalt: int = 8
    write_mode: str = "skip"
    meta_once: bool = False
    #: cap on the number of source series processed (the reference's
    #: ``convert(output_limit=N)`` smoke-run knob); None = all
    source_limit: int | None = None
    #: run the decode-and-compare fidelity gate as a pipeline step
    verify_fidelity: bool = False
    #: overlap the (independent) encode step with the tier cascade as
    #: concurrent Spark jobs from two driver threads — the tier chain's
    #: small commits hide behind the encode stage's executor work.
    #: Ignored (sequential) when a ``stop_after`` test hook is set.
    overlap: bool = False

    # ---- validation (mirrors Specifier.validate: types then values) ----

    def validate_types(self) -> None:
        checks = [
            ("input_path", self.input_path, str),
            ("output_path", self.output_path, str),
            ("input_format", self.input_format, str),
            ("nsalt", self.nsalt, int),
            ("write_mode", self.write_mode, str),
            ("meta_once", self.meta_once, bool),
            ("overlap", self.overlap, bool),
        ]
        for name, value, typ in checks:
            if not isinstance(value, typ):
                raise TypeError(f"RunConfig.{name}: expected {typ.__name__}, "
                                f"got {type(value).__name__}")
        for t in self.tiers:
            if not isinstance(t, TierSpec):
                raise TypeError("RunConfig.tiers items must be TierSpec")

    def validate_values(self) -> None:
        if self.input_format not in _INPUT_FORMATS:
            raise ValueError(
                f"input_format must be one of {_INPUT_FORMATS}, "
                f"got {self.input_format!r}"
            )
        if self.write_mode not in _ALLOWED_WRITE_MODES:
            raise ValueError(f"write_mode must be one of {_ALLOWED_WRITE_MODES}")
        if self.nsalt < 0:
            raise ValueError("nsalt must be >= 1, or 0 for size-aware auto")
        if self.source_limit is not None and self.source_limit < 1:
            raise ValueError("source_limit must be >= 1 or None")
        if not self.tiers:
            raise ValueError("at least one retention tier is required")
        widths = [t.width_s for t in self.tiers]
        if any(w <= 0 for w in widths):
            raise ValueError("tier widths must be positive")
        if sorted(widths) != widths or len(set(widths)) != len(widths):
            raise ValueError("tier widths must be strictly increasing")
        for a, b in zip(widths, widths[1:]):
            if b % a != 0:
                raise ValueError(
                    f"tier width {b} is not a multiple of {a}: cascade "
                    "re-aggregation would be inexact")
        names = [t.name for t in self.tiers]
        if len(set(names)) != len(names):
            raise ValueError("tier names must be unique")

    def validate(self) -> "RunConfig":
        self.validate_types()
        self.validate_values()
        return self

    # ---- JSON round-trip (``Specifier.write`` / pickle analog) ----

    def to_json(self) -> str:
        d = asdict(self)
        d["tiers"] = [asdict(t) for t in self.tiers]
        return json.dumps(d, indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "RunConfig":
        d = json.loads(s)
        d["tiers"] = tuple(TierSpec(**t) for t in d.get("tiers", ()))
        return cls(**d).validate()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(self.to_json())

    @classmethod
    def read(cls, path: str) -> "RunConfig":
        with open(path, encoding="utf-8") as f:
            return cls.from_json(f.read())

    def with_(self, **kw) -> "RunConfig":
        return replace(self, **kw).validate()
