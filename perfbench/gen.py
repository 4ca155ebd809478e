"""Seeded input generation for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written
with pyarrow, so the same seed gives byte-identical inputs and the engine
under test only ever sees the generated files.

The catalog tables (``events``, ``documents``, ``embeddings``) follow
the schema the query catalog is written against: the same column names,
parquet types and value domains, and dense 0-based keys.

The ETL inputs model an ingest feed: a lineitem-shaped base table with a
unique minted key ``l_key`` (the catalog's ``(l_orderkey, l_linenumber)``
pair is not unique, so it cannot be an upsert key), per-cycle batches of
updates plus inserts, two dimensions, and an append-only event source
for the watermark path.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small big customer query order group "
    "filter stream vector"
).split()
SHIP_MODES = ["AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "", None]
EMBED_DIM = 64

_ORDER_DAY0 = np.datetime64("1995-01-01", "us")
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Midnight timestamps ``lo..hi`` days after 1995-01-01."""
    return _ORDER_DAY0 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")


def _texts(rng: np.random.Generator, n: int, lo: int = 8, hi: int = 90) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in picks[at : at + k]))
        at += k
    return out


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog tables the Python-boundary queries read, at scale
    factor ``sf`` (0.01 = 10k events; documents and embeddings are 500
    rows at every scale)."""
    rng = np.random.default_rng([seed, 1])
    n_ev, n_users = int(1_000_000 * sf), max(100, int(15_000 * sf))
    n_docs, n_vec = 500, 500
    t: dict[str, pa.Table] = {}
    ts = _EVENT_T0 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(rng.exponential(45.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _texts(rng, n_docs)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n_vec)
    vec = centers[label] + rng.normal(scale=1.2, size=(n_vec, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    """Write ``<name>.parquet`` per table; returns rows and bytes per table."""
    return {
        name: {"rows": tbl.num_rows, "bytes": write(tbl, os.path.join(out_dir, f"{name}.parquet"))}
        for name, tbl in tables.items()
    }


# ----------------------------------------------------------------------
# ETL feed
# ----------------------------------------------------------------------
#: supplier dimension rows; batches also reference a few keys past it
N_SUPPLIERS = 1000


class EtlFeed:
    """Seeded generator of the ETL inputs.

    ``base()`` is the initial table; each ``batch(c)`` holds ``n_batch``
    rows, half updating existing keys (drawn from every key loaded so
    far) and half inserting new keys; ``events(c)`` is the next slice of
    the append-only watermark source.  Batches depend only on
    ``(seed, cycle)`` and the keys minted so far, so a rerun with the
    same seed replays the same feed.
    """

    def __init__(self, seed: int, n_base: int, n_batch: int, n_events: int):
        self.seed = seed
        self.n_base = n_base
        self.n_batch = n_batch
        self.n_events = n_events
        self.next_key = n_base
        # the watermark of an empty target is 0, so event ids start at 1
        self.next_event = 1

    def _rows(self, rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
        n = len(keys)
        # comments are drawn from a pool of padded, mixed-case phrases so
        # the strip/lower transforms have work to do on every row
        pad = ["", " ", "  ", "\t"]
        pool = np.array([
            pad[a] + (w.upper() if c == 0 else w.title() if c == 1 else w) + pad[b]
            for w, c, a, b in zip(_texts(rng, 4096, 2, 6), rng.integers(0, 3, 4096),
                                  rng.integers(0, 4, 4096), rng.integers(0, 4, 4096))
        ])
        comment = pool[rng.integers(0, len(pool), n)]
        modes = np.array(SHIP_MODES, dtype=object)[rng.integers(0, len(SHIP_MODES), n)]
        return pa.table(
            {
                "l_key": keys.astype(np.int64),
                "l_orderkey": rng.integers(0, 150_000, n),
                # a few suppliers outside the dimension: unmatched links
                # must land as NULL
                "l_suppkey": rng.integers(0, N_SUPPLIERS + 5, n),
                "l_quantity": rng.integers(1, 51, n).astype(np.int32),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
                "l_shipdate": _days(rng, 1, 2499, n),
                "l_comment": comment,
                "l_shipmode": pa.array(modes, pa.string()),
                "l_note": np.char.add("n", rng.integers(0, 1000, n).astype(str)),
            }
        )

    def base(self) -> pa.Table:
        rng = np.random.default_rng([self.seed, 2])
        return self._rows(rng, rng.permutation(self.n_base))

    def batch(self, cycle: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 3, cycle])
        half = self.n_batch // 2
        upd = rng.choice(self.next_key, size=half, replace=False)
        ins = np.arange(self.next_key, self.next_key + (self.n_batch - half))
        self.next_key += len(ins)
        return self._rows(rng, rng.permutation(np.concatenate([upd, ins])))

    def events(self, cycle: int, n: int | None = None) -> pa.Table:
        rng = np.random.default_rng([self.seed, 4, cycle])
        n = self.n_events if n is None else n
        ids = np.arange(self.next_event, self.next_event + n, dtype=np.int64)
        self.next_event += n
        return pa.table(
            {
                "event_id": ids,
                "ts": _EVENT_T0 + (ids * 1_000_000).astype("timedelta64[us]"),
                "user_id": rng.integers(0, 5000, n),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
                "value": _money(rng, 0.01, 500.0, n),
            }
        )

    def suppliers(self) -> pa.Table:
        rng = np.random.default_rng([self.seed, 5])
        n = N_SUPPLIERS
        return pa.table(
            {
                "s_suppkey": rng.permutation(n).astype(np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            }
        )

    @staticmethod
    def dates() -> pa.Table:
        """Weekly date dimension: as-of links land on the next week start."""
        weeks = np.arange(0, 2520, 7).astype("timedelta64[D]")
        return pa.table({"d_date": _ORDER_DAY0 + weeks})
