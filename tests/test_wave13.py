"""Wave-13 pins: PCM window energy and exact classifier metrics."""

from __future__ import annotations

import math
from datetime import datetime, timedelta

from pyspark.sql import Row

from easy_etl_spark.operators.multimodal import pcm_window_energy, with_binary_payload
from easy_etl_spark.queries import QUERIES
from easy_etl_spark.session import load_table


def test_pcm_window_energy_known_bytes(spark):
    text = "A" * 64 + "zzzzzz"  # 64 'A' (65) then 6 'z' (122)
    # doc 8's empty payload has no window, so it adds no row
    docs = spark.createDataFrame([Row(doc_id=7, text=text), Row(doc_id=8, text="")])
    got = sorted(
        pcm_window_energy(with_binary_payload(docs), window=64).collect(),
        key=lambda r: r.win,
    )
    assert [(r.win, r.n_samples, r.energy, r.peak) for r in got] == [
        (0, 64, 64 * 65 * 65, 65 * 65),
        (1, 6, 6 * 122 * 122, 122 * 122),
    ]


def test_pcm_query_matches_python_replay(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = {}
    for r in docs:
        bs = r.text.encode()
        for w in range((len(bs) + 63) // 64):
            chunk = bs[w * 64 : (w + 1) * 64]
            expected[(r.doc_id, w)] = (
                len(chunk),
                sum(b * b for b in chunk),
                max(b * b for b in chunk),
            )
    got = QUERIES["audio_rms_windows"](spark, sf_dir).collect()
    assert {
        (r.doc_id, r.win): (r.n_samples, r.energy, r.peak) for r in got
    } == expected


def _exact_auc(pairs):
    """Tie-aware AUC via average ranks, pure python."""
    pairs = sorted(pairs)  # by score
    n_pos = sum(y for _, y in pairs)
    n_neg = len(pairs) - n_pos
    # average rank per tied score group
    r_pos = 0.0
    i = 0
    while i < len(pairs):
        j = i
        while j < len(pairs) and pairs[j][0] == pairs[i][0]:
            j += 1
        avg_rank = (i + 1 + j) / 2  # ranks i+1..j
        r_pos += avg_rank * sum(y for _, y in pairs[i:j])
        i = j
    return (r_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)


def test_classifier_eval_matches_python(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    pairs = [
        (math.floor(r.value * 100 + 0.5), 1 if r.event_type == "purchase" else 0)
        for r in events
    ]
    got = QUERIES["classifier_eval"](spark, sf_dir).collect()[0]
    n_pos = sum(y for _, y in pairs)
    n_neg = len(pairs) - n_pos
    tp = sum(y for s, y in pairs if s >= 25000)
    fp = sum(1 - y for s, y in pairs if s >= 25000)
    assert (got.n_pos, got.n_neg, got.tp, got.fp, got.fn) == (
        n_pos,
        n_neg,
        tp,
        fp,
        n_pos - tp,
    )
    assert math.isclose(got.auc, _exact_auc(pairs), abs_tol=5e-7)
    assert math.isclose(got.precision, tp / (tp + fp), abs_tol=5e-7)
    assert math.isclose(got.recall, tp / n_pos, abs_tol=5e-7)
    assert math.isclose(got.f1, 2 * tp / (2 * tp + fp + (n_pos - tp)), abs_tol=5e-7)


def test_classifier_eval_perfect_separation(spark, tmp_path):
    t0 = datetime(2024, 7, 1)
    rows = []
    for i in range(20):
        purchase = i >= 10
        rows.append(
            Row(
                event_id=i,
                ts=t0 + timedelta(minutes=i),
                user_id=1,
                event_type="purchase" if purchase else "view",
                value=400.0 + i if purchase else 10.0 + i,
                props="{}",
            )
        )
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "events.parquet"))
    got = QUERIES["classifier_eval"](spark, str(tmp_path)).collect()[0]
    assert got.auc == 1.0
    assert got.precision == 1.0 and got.recall == 1.0 and got.f1 == 1.0
