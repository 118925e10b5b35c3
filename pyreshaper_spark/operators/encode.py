"""Per-series encode/decode — the reference's output-file write, Spark-first.

The reference writes one contiguous, compressed time-series file per
variable [U: reshaper.py :: convert; netcdf4c deflate]. Here each
(source, salt) series chunk becomes ONE encoded row:

* the (event_s, n_tok) metric stream → Gorilla XOR + delta-of-delta
  (functions.gorilla, vectorized numpy) — the mandated codec;
* the concatenated token stream → 16-bit packing (vocab 50257 < 2^16;
  a fixed-width vectorized pack beats XOR-of-float64 ~4× for id-like
  data — engineering choice, documented deviation);
* per-doc boundaries (doc_id list + n_tok list) kept as array columns
  so the original per-doc token arrays are exactly reconstructable —
  the port-fidelity invariant decodes THROUGH this path.

Execution shape (measured — see git history): the encoder consumes the
series layout produced by ``transpose_to_series`` (hash-partitioned on
the group key, sorted within partitions) and runs as **one
``mapInArrow`` pass over contiguous group runs** — no ``groupBy``
re-shuffle, no Arrow→pandas object conversion. It runs one Python task
per shuffle partition, and AQE sizes that count from the data (at most
``spark.sql.shuffle.partitions``), because each task pays a fixed
Python start-up cost whatever its rows. Tokens cross the
JVM↔Python boundary once, as flat Arrow buffers read zero-copy into
numpy. An earlier ``applyInPandas`` version spent more time converting
list columns to pandas objects than encoding; the Arrow path encodes
the same 1M-row input ~3× faster and keeps scaling with cores.

Lineage (the reference's TimeKeeper/byte-counter analog [U:
timekeeper.py :: TimeKeeper]): every encoded row carries partition id
(``TaskContext``), row count, raw/encoded byte counts, encode wall time
and the distinct input files feeding the chunk; `plans.pipeline`
appends these to the metrics table.
"""

from __future__ import annotations

import time
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyreshaper_spark.functions import gorilla as G

ENCODED_SCHEMA = (
    "source string, salt int, n long, "
    "first_ts long, ts_payload binary, "
    "first_val_bits long, val_payload binary, "
    "tok_payload binary, doc_ids array<string>, doc_n_toks array<int>, "
    "raw_bytes long, enc_bytes long, wall_ms double, partition_id int, "
    "input_files array<string>"
)

DECODED_SCHEMA = (
    "source string, salt int, event_s long, n_tok int, "
    "doc_id string, tokens array<int>"
)

_OUT_TYPE = pa.schema(
    [
        ("source", pa.string()),
        ("salt", pa.int32()),
        ("n", pa.int64()),
        ("first_ts", pa.int64()),
        ("ts_payload", pa.binary()),
        ("first_val_bits", pa.int64()),
        ("val_payload", pa.binary()),
        ("tok_payload", pa.binary()),
        ("doc_ids", pa.list_(pa.string())),
        ("doc_n_toks", pa.list_(pa.int32())),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("wall_ms", pa.float64()),
        ("partition_id", pa.int32()),
        ("input_files", pa.list_(pa.string())),
    ]
)


#: token-payload codec flags (first byte of tok_payload):
#: bit 0 = zlib-deflated, bit 1 = 32-bit element width. Token ids are
#: array<int32> in the input contract, so vocabularies beyond 65,535
#: (any modern BPE tokenizer) MUST be representable: streams whose ids
#: all fit in 16 bits pack at half width (the common fixture/legacy
#: case), wider streams pack as u32 — chosen per chunk, flagged here.
_TOK_RAW, _TOK_ZLIB = b"\x00", b"\x01"
_TOK_RAW32, _TOK_ZLIB32 = b"\x02", b"\x03"


def wrap_tok_payload(raw: bytes, width: int = 2) -> bytes:
    """Flag-byte token payload: zlib-deflate when it actually helps
    (token streams over natural text repeat heavily; random-id streams
    don't — the flag keeps the worst case at +1 byte). ``width`` is the
    element width of ``raw`` (2 or 4 bytes per token id)."""
    raw_flag = _TOK_RAW if width == 2 else _TOK_RAW32
    zl_flag = _TOK_ZLIB if width == 2 else _TOK_ZLIB32
    z = zlib.compress(raw, 6)
    if len(z) < len(raw):
        return zl_flag + z
    return raw_flag + raw


def unwrap_tok_payload(payload: bytes) -> tuple[bytes, int]:
    """Inverse of :func:`wrap_tok_payload` → (raw bytes, element width)."""
    flag = payload[0]
    raw = zlib.decompress(payload[1:]) if flag & 1 else payload[1:]
    return raw, (4 if flag & 2 else 2)


def unpack_tokens(payload: bytes) -> np.ndarray:
    """Wrapped token payload → int32 id stream (width from the flag)."""
    raw, width = unwrap_tok_payload(payload)
    return np.frombuffer(raw, dtype=f"<u{width}").astype(np.int32)


def _tok_width(flat: np.ndarray) -> int:
    """Per-batch packing width for an id stream: 2 when every id fits
    u16, else 4. Negative ids are a contract violation either way."""
    if flat.size == 0:
        return 2
    if int(flat.min()) < 0:
        raise ValueError("negative token id")
    return 2 if int(flat.max()) <= 0xFFFF else 4


def _pack_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Narrow pre-shuffle pass: tokens list<int32> → tok_bin (u16 LE).

    Scales with input partitions (no shuffle); halves the bytes the
    transpose exchange moves and replaces list serialization with flat
    binary buffers on both sides of the JVM↔Python boundary.
    """
    for b in it:
        tok = b.column("tokens")
        flat = tok.flatten().to_numpy(zero_copy_only=False)
        width = _tok_width(flat)
        lens = pc.list_value_length(tok).to_numpy(zero_copy_only=False)
        # deferred input contract (validate_input(token_sizes="defer")):
        # tokens are in memory here anyway — enforce n_tok == len(tokens)
        # vectorized, instead of a second full-table scan in validate
        if b.schema.get_field_index("n_tok") >= 0:
            ntok = b.column("n_tok").to_numpy(zero_copy_only=False)
            bad = int((lens != ntok).sum())
            if bad:
                raise ValueError(
                    f"{bad} rows violate n_tok == size(tokens) "
                    "(null tokens count as a mismatch)"
                )
        off = np.zeros(len(lens) + 1, dtype=np.int32)
        np.cumsum(lens * width, out=off[1:])
        data = flat.astype(f"<u{width}").tobytes()
        binarr = pa.BinaryArray.from_buffers(
            pa.binary(), len(lens), [None, pa.py_buffer(off), pa.py_buffer(data)]
        )
        cols, names = [], []
        for name in b.schema.names:
            if name == "tokens":
                cols.append(binarr)
                names.append("tok_bin")
            else:
                cols.append(b.column(name))
                names.append(name)
        # per-row element width: the shuffle interleaves rows packed by
        # different upstream batches, so the width must ride each row
        cols.append(pa.array(np.full(len(lens), width, dtype=np.int8)))
        names.append("tok_w")
        yield pa.RecordBatch.from_arrays(cols, names=names)


def pack_series_payload(seq: DataFrame) -> DataFrame:
    """tokens → tok_bin (+ per-row tok_w width) for the encode path
    (see _pack_batches)."""
    fields = []
    for f in seq.schema.fields:
        if f.name == "tokens":
            fields.append("tok_bin binary")
        else:
            fields.append(f"{f.name} {f.dataType.simpleString()}")
    fields.append("tok_w tinyint")
    return seq.mapInArrow(_pack_batches, ", ".join(fields))


#: Chunk-size cap: one encoded row never holds more than this many
#: points. Bounds encoder/writer memory (a 10^7-point hot series would
#: otherwise become a single multi-hundred-MB cell — observed as an
#: executor OOM in DynamicPartitionDataWriter at 40M rows) and gives
#: decode-side parallelism — the same reason Gorilla/M3 use bounded
#: time blocks. A (source, salt) series is simply a sequence of chunks
#: in time order.
MAX_POINTS_PER_CHUNK = 65536

#: Byte cap on a chunk's token payload — the points cap alone is not
#: enough (long documents make a 65k-point chunk tens of MB; huge cells
#: blow up the parquet page writer). 4 MiB keeps encoded cells in the
#: same ballpark as parquet pages.
MAX_TOK_BYTES_PER_CHUNK = 4 << 20


class _GroupBuf:
    """Accumulates one (source, salt) run that may span record batches."""

    __slots__ = (
        "source", "salt", "ts", "vals", "toks", "tok_widths", "docs",
        "files", "n", "tok_bytes",
    )

    def __init__(self, source: str, salt: int):
        self.source, self.salt = source, salt
        self.n = 0
        self.tok_bytes = 0
        self.ts: list[np.ndarray] = []
        self.vals: list[np.ndarray] = []
        self.toks: list[np.ndarray] = []
        self.tok_widths: list[int] = []  # element width per segment
        self.docs: list[pa.Array] = []
        self.files: set[str] = set()

    def encode(self, partition_id: int) -> dict:
        t0 = time.perf_counter()
        ts = np.concatenate(self.ts)
        vals_i = np.concatenate(self.vals)
        vals = vals_i.astype(np.float64)
        enc = G.encode_series(ts, vals)
        # self.toks holds raw LE byte segments (pre-packed tok_bin
        # slices or list<int> runs packed at append time), each with an
        # element width in tok_widths. A chunk's payload is single-width
        # (flagged): all-u16 stays u16, otherwise u16 segments are
        # upconverted to the u32 stream — per chunk, so one big-vocab
        # source never widens the rest of the corpus.
        if any(w == 4 for w in self.tok_widths):
            width = 4
            parts = [
                seg if w == 4 else
                np.frombuffer(seg.tobytes(), "<u2").astype("<u4").view(np.uint8)
                for seg, w in zip(self.toks, self.tok_widths)
            ]
            raw = np.concatenate(parts).tobytes() if parts else b""
        else:
            width = 2
            raw = np.concatenate(self.toks).tobytes() if self.toks else b""
        tok_payload = wrap_tok_payload(raw, width)
        docs = pa.concat_arrays([a.cast(pa.string()) for a in self.docs])
        # raw side of the ratio = pre-compression bytes: int64 ts + f64
        # vals + the original int32 tokens (4 bytes × token count,
        # independent of the packed width) — NOT the wrapped payload,
        # which would shrink "raw" whenever zlib engages
        raw_bytes = int(ts.nbytes + vals.nbytes + int(vals_i.sum()) * 4)
        enc_bytes = int(
            len(enc.ts_payload) + len(enc.val_payload) + len(tok_payload) + 24
        )
        return {
            "source": self.source,
            "salt": self.salt,
            "enc": enc,
            "tok_payload": tok_payload,
            "docs": docs,
            "raw_bytes": raw_bytes,
            "enc_bytes": enc_bytes,
            "wall_ms": (time.perf_counter() - t0) * 1e3,
            "partition_id": partition_id,
            "files": sorted(self.files),
            "n_tok_per_doc": vals_i.astype(np.int32),
        }


def _runs(src: np.ndarray, salt: np.ndarray) -> list[tuple[int, int]]:
    """Contiguous equal-(source,salt) runs of a sorted batch."""
    n = len(src)
    if n == 0:
        return []
    change = np.flatnonzero((src[1:] != src[:-1]) | (salt[1:] != salt[:-1]))
    starts = np.concatenate([[0], change + 1])
    ends = np.concatenate([change + 1, [n]])
    return list(zip(starts.tolist(), ends.tolist()))


def _chunk_to_batch(c: dict) -> pa.RecordBatch:
    enc: G.EncodedSeries = c["enc"]
    doc_ids = pa.ListArray.from_arrays(
        pa.array([0, len(c["docs"])], pa.int32()), c["docs"]
    )
    doc_n_toks = pa.ListArray.from_arrays(
        pa.array([0, len(c["n_tok_per_doc"])], pa.int32()),
        pa.array(c["n_tok_per_doc"], pa.int32()),
    )
    files = pa.ListArray.from_arrays(
        pa.array([0, len(c["files"])], pa.int32()),
        pa.array(c["files"], pa.string()),
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array([c["source"]], pa.string()),
            pa.array([c["salt"]], pa.int32()),
            pa.array([enc.n], pa.int64()),
            pa.array([enc.first_ts], pa.int64()),
            pa.array([enc.ts_payload], pa.binary()),
            pa.array([enc.first_val_bits], pa.int64()),
            pa.array([enc.val_payload], pa.binary()),
            pa.array([c["tok_payload"]], pa.binary()),
            doc_ids,
            doc_n_toks,
            pa.array([c["raw_bytes"]], pa.int64()),
            pa.array([c["enc_bytes"]], pa.int64()),
            pa.array([c["wall_ms"]], pa.float64()),
            pa.array([c["partition_id"]], pa.int32()),
            files,
        ],
        schema=_OUT_TYPE,
    )


def _encode_partition(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    try:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
    except Exception:
        pid = -1

    buf: _GroupBuf | None = None
    for b in it:
        # dictionary-encode source ONCE per batch: run detection then
        # compares int32 codes, not Python string objects (40M object
        # comparisons were a visible slice of the encode stage)
        src_dict = pc.dictionary_encode(b.column("source"))
        src_codes = src_dict.indices.to_numpy(zero_copy_only=False)
        src_values = src_dict.dictionary.to_pylist()
        salt = b.column("salt").to_numpy(zero_copy_only=False)
        ev = b.column("event_s").to_numpy(zero_copy_only=False)
        ntok = b.column("n_tok").to_numpy(zero_copy_only=False)
        packed = b.schema.get_field_index("tok_bin") >= 0
        if packed:
            tb = b.column("tok_bin")
            bufs = tb.buffers()
            toff = np.frombuffer(bufs[1], np.int32)[
                tb.offset : tb.offset + len(tb) + 1
            ].astype(np.int64)
            tdata = np.frombuffer(bufs[2], np.uint8)
            # per-row element width: post-shuffle batches interleave
            # rows packed by different upstream batches
            if b.schema.get_field_index("tok_w") >= 0:
                tokw = b.column("tok_w").to_numpy(zero_copy_only=False)
            else:  # legacy pre-packed input without widths: all u16
                tokw = np.full(len(tb), 2, dtype=np.int8)
        else:
            tok_col = b.column("tokens")
            flat = tok_col.flatten().to_numpy(zero_copy_only=False)
            width = _tok_width(flat)
            tdata = flat.astype(f"<u{width}").view(np.uint8)
            lens = pc.list_value_length(tok_col).to_numpy(zero_copy_only=False)
            # deferred input contract (see _pack_batches): unpacked path
            bad = int((lens != ntok).sum())
            if bad:
                raise ValueError(
                    f"{bad} rows violate n_tok == size(tokens)"
                )
            toff = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens * width, out=toff[1:])
            tokw = np.full(len(lens), width, dtype=np.int8)
        doc_col = b.column("doc_id")
        has_files = b.schema.get_field_index("input_file") >= 0
        file_col = b.column("input_file") if has_files else None
        for s, e in _runs(src_codes, salt):
            key = (src_values[src_codes[s]], int(salt[s]))
            if buf is not None and (buf.source, buf.salt) != key:
                yield _chunk_to_batch(buf.encode(pid))
                buf = None
            while s < e:
                if buf is None:
                    buf = _GroupBuf(*key)
                m = min(s + MAX_POINTS_PER_CHUNK - buf.n, e)
                # also stop where the token-byte budget runs out (but
                # always take at least one row)
                byte_stop = int(
                    np.searchsorted(
                        toff,
                        toff[s] + MAX_TOK_BYTES_PER_CHUNK - buf.tok_bytes,
                        side="right",
                    )
                    - 1
                )
                m = max(min(m, byte_stop), s + 1)
                take = m - s
                buf.ts.append(ev[s:m].astype(np.int64, copy=False))
                buf.vals.append(ntok[s:m])
                # split [s, m) into constant-width runs (all-u16 data is
                # one run — the loop body runs once); byte slicing uses
                # the binary array's own offsets, width-agnostic
                w_change = np.flatnonzero(tokw[s + 1 : m] != tokw[s : m - 1])
                bounds = np.concatenate(([s], w_change + s + 1, [m]))
                for a, z in zip(bounds[:-1], bounds[1:]):
                    buf.toks.append(tdata[toff[a] : toff[z]])
                    buf.tok_widths.append(int(tokw[a]))
                buf.docs.append(doc_col.slice(s, take))
                if has_files:
                    # per-slice attribution: only files feeding THIS
                    # chunk's rows (a batch-wide set would list files
                    # belonging to other groups sharing the batch)
                    buf.files |= set(
                        pc.unique(file_col.slice(s, take)).to_pylist()
                    )
                buf.n += take
                buf.tok_bytes += int(toff[m] - toff[s])
                s = m
                if (
                    buf.n >= MAX_POINTS_PER_CHUNK
                    or buf.tok_bytes >= MAX_TOK_BYTES_PER_CHUNK
                ):
                    yield _chunk_to_batch(buf.encode(pid))
                    buf = None
    if buf is not None:
        yield _chunk_to_batch(buf.encode(pid))


def encode_series_table(series: DataFrame) -> DataFrame:
    """Encode the series layout: one row per (source, salt).

    Input: output of operators.transpose.transpose_to_series — columns
    doc_id, tokens, n_tok, source, event_s, salt, clustered by
    (source, salt) and time-sorted. Runs as a narrow mapInArrow pass
    (groups are already whole within partitions — no shuffle here).
    """
    tok_col = "tok_bin" if "tok_bin" in series.columns else "tokens"
    cols = ["source", "salt", "event_s", "n_tok", "doc_id", tok_col]
    if tok_col == "tok_bin" and "tok_w" in series.columns:
        cols.append("tok_w")
    if "input_file" in series.columns:
        cols.append("input_file")
    return series.select(*cols).mapInArrow(_encode_partition, ENCODED_SCHEMA)


def _decode_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow-native chunk decode: one output RecordBatch per encoded
    chunk row, all columns built from numpy / Arrow buffers — the only
    per-row work is slicing; per-POINT work is fully vectorized
    (stream-split Gorilla decode + a ListArray re-wrap of the flat
    token buffer). Bounded memory: a chunk is ≤65k points / 4 MiB."""
    for batch in it:
        n_col = batch.column("n").to_numpy(zero_copy_only=False)
        first_ts = batch.column("first_ts").to_numpy(zero_copy_only=False)
        fvb = batch.column("first_val_bits").to_numpy(zero_copy_only=False)
        src_col = batch.column("source")
        salt_col = batch.column("salt").to_numpy(zero_copy_only=False)
        ts_pay, val_pay = batch.column("ts_payload"), batch.column("val_payload")
        tok_pay = batch.column("tok_payload")
        doc_ids_col = batch.column("doc_ids")
        doc_ntoks_col = batch.column("doc_n_toks")
        for i in range(batch.num_rows):
            n = int(n_col[i])
            ts = G.decode_timestamps(n, int(first_ts[i]), ts_pay[i].as_py())
            vals = G.decode_values(n, int(fvb[i]), val_pay[i].as_py())
            toks = unpack_tokens(tok_pay[i].as_py())
            ntk = (
                doc_ntoks_col.slice(i, 1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            offsets = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(ntk, out=offsets[1:])
            tokens_arr = pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32), pa.int32()),
                pa.array(toks, pa.int32()),
            )
            zeros = pa.array(np.zeros(n, dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [
                    src_col.slice(i, 1).take(zeros),
                    pa.array(np.full(n, salt_col[i], dtype=np.int32)),
                    pa.array(ts, pa.int64()),
                    pa.array(vals.astype(np.int32), pa.int32()),
                    doc_ids_col.slice(i, 1).flatten(),
                    tokens_arr,
                ],
                names=["source", "salt", "event_s", "n_tok", "doc_id", "tokens"],
            )


def decode_series_table(encoded: DataFrame) -> DataFrame:
    """Inverse of encode_series_table: explode encoded chunks back to
    per-doc rows (used by the fidelity invariant + tier recompute checks)."""
    return encoded.mapInArrow(_decode_batches, schema=DECODED_SCHEMA)


def compression_report(encoded: DataFrame) -> DataFrame:
    """Aggregate codec effectiveness — the reference's requested-vs-actual
    byte accounting [U: reshaper.py :: byte-count dict]."""
    return encoded.agg(
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        (F.sum("raw_bytes") / F.sum("enc_bytes")).alias("ratio"),
        F.sum("n").alias("points"),
        F.count("*").alias("chunks"),
    )
