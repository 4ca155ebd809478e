"""gen_sf composition safety (round 10, VERDICT r9 item 3).

Round 9 documented that COMPOSED scalings (sf0.1 -10-> sf1 -5-> sf5)
collide: caesar shifts add mod 26 and the Rademacher seeds were reused
across levels, so composed copies carried identical text / embeddings
and the dedup/ANN rungs stopped at sf2.5. These tests pin the fixed
contract: composed per-copy transforms are pairwise distinct, copy 0
is verbatim, within-copy similarity structure is preserved exactly,
cross-copy shingle overlap is negligible, and generation is
deterministic byte-for-byte.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import gen_sf


def _mk_src(d: str) -> None:
    os.makedirs(d, exist_ok=True)

    def w(name, table):
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))

    w("region", pa.table({"r_regionkey": [0, 1], "r_name": ["AMERICA", "ASIA"]}))
    w("nation", pa.table({"n_nationkey": [0, 1], "n_regionkey": [0, 1]}))
    w("customer", pa.table({"c_custkey": [0, 1, 2], "c_nationkey": [0, 1, 0]}))
    w("supplier", pa.table({"s_suppkey": [0, 1]}))
    w("part", pa.table({"p_partkey": [0, 1]}))
    w("orders", pa.table({"o_orderkey": [0, 1], "o_custkey": [0, 2]}))
    w(
        "lineitem",
        pa.table(
            {"l_orderkey": [0, 1], "l_partkey": [1, 0], "l_suppkey": [0, 1]}
        ),
    )
    w(
        "events",
        pa.table(
            {
                "event_id": pa.array([0, 1], pa.int64()),
                "user_id": pa.array([0, 1], pa.int64()),
                "ts": pa.array([1_700_000_000_000_000, 1_700_000_060_000_000], pa.timestamp("us")),
            }
        ),
    )
    # two near-dup docs (high jaccard) + one distinct
    w(
        "documents",
        pa.table(
            {
                "doc_id": pa.array([0, 1, 2], pa.int64()),
                "text": [
                    "the quick brown fox jumps over the lazy dog 42",
                    "the quick brown fox jumps over the lazy cat 42",
                    "completely different text with zero overlap here",
                ],
            }
        ),
    )
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(3, 8)).astype(np.float32)
    vecs[1] = vecs[0] + 0.01  # near-dup pair within the base copy
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.reshape(-1), type=pa.float32()), 8
    ).cast(pa.list_(pa.float32()))
    w(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array([0, 1, 2], pa.int64()),
                "embedding": emb,
                "label": ["a", "a", "b"],
            }
        ),
    )


def _shingles(text: str, n: int = 3) -> set:
    only_alnum = [c for c in text if c.isalnum()]
    s = "".join(only_alnum)
    return {s[i : i + n] for i in range(len(s) - n + 1)}


@pytest.fixture(scope="module")
def composed(tmp_path_factory):
    base = tmp_path_factory.mktemp("gensf")
    src = str(base / "src")
    lvl1 = str(base / "lvl1")
    lvl2 = str(base / "lvl2")
    _mk_src(src)
    gen_sf.scale(src, lvl1, 3)
    gen_sf.scale(lvl1, lvl2, 2)
    return src, lvl1, lvl2


def test_composed_text_copies_pairwise_distinct(composed):
    src, _, lvl2 = composed
    docs = pq.read_table(os.path.join(lvl2, "documents.parquet"))
    texts = docs["text"].to_pylist()
    n_base = 3
    # 6 composed copies of doc 0: indices 0, 3, 6, ... (3 docs/copy)
    copies = [texts[c * n_base] for c in range(6)]
    assert len(set(copies)) == 6, "composed text copies collide"
    # cross-copy shingle overlap negligible (relative permutation fixes
    # ~1 letter in expectation); same-copy near-dups stay near-dup
    for a in range(6):
        for b in range(a + 1, 6):
            sa, sb = _shingles(copies[a]), _shingles(copies[b])
            j = len(sa & sb) / len(sa | sb)
            assert j < 0.2, f"copies {a},{b} share shingles (j={j:.2f})"


def test_within_copy_jaccard_preserved_exactly(composed):
    src, _, lvl2 = composed
    base = pq.read_table(os.path.join(src, "documents.parquet"))["text"].to_pylist()
    docs = pq.read_table(os.path.join(lvl2, "documents.parquet"))["text"].to_pylist()
    j_base = len(_shingles(base[0]) & _shingles(base[1])) / len(
        _shingles(base[0]) | _shingles(base[1])
    )
    n_base = 3
    for c in range(6):
        a, b = docs[c * n_base], docs[c * n_base + 1]
        j = len(_shingles(a) & _shingles(b)) / len(_shingles(a) | _shingles(b))
        assert abs(j - j_base) < 1e-9, f"copy {c}: jaccard {j} != base {j_base}"


def test_composed_sign_patterns_pairwise_distinct(composed):
    src, _, lvl2 = composed
    base = np.array(
        pq.read_table(os.path.join(src, "embeddings.parquet"))["embedding"].to_pylist(),
        dtype=np.float32,
    )
    emb = np.array(
        pq.read_table(os.path.join(lvl2, "embeddings.parquet"))["embedding"].to_pylist(),
        dtype=np.float32,
    )
    n_base = 3
    patterns = []
    for c in range(6):
        v = emb[c * n_base]  # copy c's version of base vector 0
        signs = tuple(np.sign(v / base[0]).astype(int))
        assert set(signs) <= {-1, 1}
        patterns.append(signs)
    assert len(set(patterns)) == 6, "composed sign patterns collide"
    # within-copy inner products preserved exactly
    for c in range(6):
        blk = emb[c * n_base : (c + 1) * n_base]
        assert np.allclose(blk @ blk.T, base @ base.T, atol=1e-5)


def test_generation_is_deterministic(composed, tmp_path):
    src, lvl1, _ = composed
    again = str(tmp_path / "again")
    gen_sf.scale(src, again, 3)
    for name in ("documents", "embeddings", "lineitem", "events"):
        a = pq.read_table(os.path.join(lvl1, f"{name}.parquet"))
        b = pq.read_table(os.path.join(again, f"{name}.parquet"))
        assert a.equals(b), f"{name} not byte-stable across runs"


def test_copy_zero_verbatim(composed):
    src, _, lvl2 = composed
    for name in ("documents", "embeddings"):
        base = pq.read_table(os.path.join(src, f"{name}.parquet"))
        out = pq.read_table(os.path.join(lvl2, f"{name}.parquet"))
        assert out.slice(0, len(base)).equals(base)


def test_fk_consistency_after_compose(composed):
    _, _, lvl2 = composed
    orders = pq.read_table(os.path.join(lvl2, "orders.parquet"))
    cust = pq.read_table(os.path.join(lvl2, "customer.parquet"))
    line = pq.read_table(os.path.join(lvl2, "lineitem.parquet"))
    ckeys = set(cust["c_custkey"].to_pylist())
    assert set(orders["o_custkey"].to_pylist()) <= ckeys
    okeys = set(orders["o_orderkey"].to_pylist())
    assert set(line["l_orderkey"].to_pylist()) <= okeys
    # key spaces stay dense & collision-free
    assert len(ckeys) == len(cust)
    assert len(okeys) == len(orders)
