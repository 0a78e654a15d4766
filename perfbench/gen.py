"""Seeded change-event generator for the benchmark, independent of the engine.

The feed follows the engine's synthetic change-log recipe (power-law key pick,
10% deletes, 2% malformed upserts of three kinds, 5% exact redeliveries into
the next segment, 1-64 tokens per event) but is built with numpy from the
workload seed alone, so an engine change can never change the inputs.

Each landed file holds the canonical change-log columns
``(lsn, op, doc_id, tokens, n_tok, source, event_ts, batch_id)`` with rows in
a shuffled (not LSN) order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50257  # the engine validates tokens against this vocabulary
SOURCES = np.array(["loc", "mesh", "wikidata", "label-derived"])
MAX_TOKENS = 64
SKEW = 2.0
DELETE_PCT, INSERT_PCT, MALFORMED_PCT, DUP_PCT = 10, 20, 2, 5

ARROW_SCHEMA = pa.schema(
    [
        pa.field("lsn", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.int32()), nullable=True),
        pa.field("n_tok", pa.int32(), nullable=True),
        pa.field("source", pa.string(), nullable=True),
        pa.field("event_ts", pa.timestamp("us", tz="UTC"), nullable=True),
        pa.field("batch_id", pa.int64(), nullable=False),
    ]
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def doc_ids(seed: int, num_keys: int) -> np.ndarray:
    """Key rank -> 8-character base-36 doc id (a hash, so hot keys scatter)."""
    h = _splitmix64(np.arange(num_keys, dtype=np.uint64) ^ np.uint64(seed * 7919 + 1))
    h = h % np.uint64(36**8)
    alphabet = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    chars = np.empty((num_keys, 8), dtype=np.uint8)
    for pos in range(7, -1, -1):
        chars[:, pos] = alphabet[(h % np.uint64(36)).astype(np.int64)]
        h = h // np.uint64(36)
    return chars.view("S8").ravel().astype(str)


def generate(
    seed: int, stream: int, num_events: int, num_keys: int, num_batches: int,
    lsn_base: int = 0,
) -> list[pa.Table]:
    """``num_batches`` change-event tables (one per segment or micro-batch).

    ``stream`` separates independent draws of one seed (pre-load vs feed);
    ``lsn_base`` puts a feed's LSNs above an earlier load. Keys are shared by
    every stream of a seed, so a feed updates the keys a pre-load created.
    """
    rng = np.random.default_rng([seed, stream])
    ids = doc_ids(seed, num_keys)
    i = np.arange(num_events, dtype=np.int64)
    rank = np.floor(rng.random(num_events) ** SKEW * num_keys).astype(np.int64)
    draw = rng.integers(0, 100, num_events)
    op = np.where(draw < DELETE_PCT, "D", np.where(draw < DELETE_PCT + INSERT_PCT, "I", "U"))
    lsn = lsn_base + i * 3 + rng.integers(0, 2, num_events)
    n_tok = rng.integers(1, MAX_TOKENS + 1, num_events).astype(np.int32)
    is_del = op == "D"
    n_tok[is_del] = 0
    offsets = np.zeros(num_events + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, VOCAB_SIZE, int(offsets[-1])).astype(np.int32)
    src_of_key = _splitmix64(np.arange(num_keys, dtype=np.uint64) + np.uint64(seed)) % np.uint64(4)
    source = SOURCES[src_of_key.astype(np.int64)[rank]]
    batch_id = np.minimum(i * num_batches // num_events, num_batches - 1)

    # malformed upserts: n_tok off by one, NULL tokens, or an out-of-vocab token
    mal = (rng.integers(0, 100, num_events) < MALFORMED_PCT) & ~is_del
    kind = rng.integers(0, 3, num_events)
    n_tok_out = n_tok.copy()
    n_tok_out[mal & (kind == 0)] += 1
    oov_rows = np.flatnonzero(mal & (kind == 2))
    values[offsets[oov_rows + 1] - 1] = VOCAB_SIZE + 17  # last token out of vocab
    token_null = is_del | (mal & (kind == 1))

    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values),
        mask=pa.array(token_null),
    )
    table = pa.table(
        {
            "lsn": pa.array(lsn),
            "op": pa.array(op),
            "doc_id": pa.array(ids[rank]),
            "tokens": tokens,
            "n_tok": pa.array(n_tok_out, mask=is_del),
            "source": pa.array(source),
            "event_ts": pa.array(
                (1_700_000_000 + lsn) * 1_000_000, type=pa.timestamp("us", tz="UTC")
            ),
            "batch_id": pa.array(batch_id),
        },
        schema=ARROW_SCHEMA,
    )
    # exact redeliveries into the next segment (at-least-once delivery)
    dup = np.flatnonzero(rng.integers(0, 100, num_events) < DUP_PCT)
    dup_batch = np.minimum(batch_id[dup] + 1, num_batches - 1)
    dups = table.take(pa.array(dup)).set_column(
        7, ARROW_SCHEMA.field("batch_id"), pa.array(dup_batch)
    )
    out = []
    for b in range(num_batches):
        part = pa.concat_tables(
            [
                table.filter(pa.array(batch_id == b)),
                dups.filter(pa.array(dup_batch == b)),
            ]
        )
        order = rng.permutation(part.num_rows)
        out.append(part.take(pa.array(order)))
    return out


def land(tables: list[pa.Table], directory: str, mtime0: float | None = None) -> list[str]:
    """Write one parquet file per table; with ``mtime0`` the files get strictly
    increasing mtimes, the order a file-source stream admits them in."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for k, t in enumerate(tables):
        p = os.path.join(directory, f"part-{k:05d}.parquet")
        pq.write_table(t, p)
        if mtime0 is not None:
            os.utime(p, (mtime0 + k, mtime0 + k))
        paths.append(p)
    return paths


def digest(tables: list[pa.Table]) -> dict:
    """Row count and per-column sums of the landed feed: a change to the
    generator (or to what landed) changes this, and the run checks it."""
    import pyarrow.compute as pc

    t = pa.concat_tables(tables)
    flat = pc.list_flatten(t["tokens"])
    return {
        "rows": t.num_rows,
        "lsn_sum": int(pc.sum(t["lsn"]).as_py()),
        "n_tok_sum": int(pc.sum(t["n_tok"]).as_py() or 0),
        "token_sum": int(pc.sum(flat.cast(pa.int64())).as_py() or 0),
        "deletes": int(pc.sum(pc.equal(t["op"], "D").cast(pa.int64())).as_py()),
        "doc_id_bytes": int(pc.sum(pc.binary_length(t["doc_id"])).as_py()),
        "distinct_keys": len(pc.unique(t["doc_id"])),
    }
