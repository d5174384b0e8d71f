"""Streaming property tests: the custom stateful operator must converge to
the batch sessionizer's answer, and the numpy ANN must equal the
expression ANN at round-6 precision."""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.operators.sessions import session_stats
from retail_sales_project_bigdata_spark.operators.similarity import (
    ann_bruteforce_topk,
    ann_bruteforce_topk_numpy,
)
from retail_sales_project_bigdata_spark.streaming import (
    streaming_stateful_user_sessions,
)
from tests.conftest import SF_SMALL


def test_stateful_sessions_match_batch(spark):
    st = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in streaming_stateful_user_sessions(spark, SF_SMALL).collect()
    }
    batch = (
        session_stats(spark, SF_SMALL)
        .groupBy("user_id")
        .agg(
            F.max("session_seq").alias("ns"),
            F.sum("n_events").alias("ne"),
        )
    )
    b = {r.user_id: (r.ns, r.ne) for r in batch.collect()}
    assert st == b


def test_stateful_sessions_leave_session_conf_unchanged(spark, tmp_path):
    """The events stream scopes the nanos conf to its own reads: building
    the stream over a micros and a nanos events file leaves every SQL
    conf as it was, and both encodings give the same sessions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def sql_conf() -> dict[str, str]:
        return {r.key: r.value for r in spark.sql("SET").collect()}

    events = pq.read_table(f"{SF_SMALL}/events.parquet")
    i = events.schema.get_field_index("ts")
    pq.write_table(
        events.set_column(i, "ts", events["ts"].cast(pa.timestamp("ns"))),
        str(tmp_path / "events.parquet"),
    )
    before = sql_conf()
    micros = streaming_stateful_user_sessions(spark, SF_SMALL).collect()
    assert sql_conf() == before
    nanos = streaming_stateful_user_sessions(spark, str(tmp_path)).collect()
    assert sql_conf() == before
    assert sorted(map(tuple, nanos)) == sorted(map(tuple, micros))


def test_numpy_ann_equals_expression_ann(spark):
    a1 = {
        (r.q_id, r.neighbor_id, r.cosine)
        for r in ann_bruteforce_topk(spark, SF_SMALL).collect()
    }
    a2 = {
        (r.q_id, r.neighbor_id, r.cosine)
        for r in ann_bruteforce_topk_numpy(spark, SF_SMALL).collect()
    }
    assert a1 == a2


def test_numpy_near_dup_equals_expression(spark):
    from retail_sales_project_bigdata_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_numpy,
    )

    # threshold 0.2 so the comparison is non-vacuous on near-random vectors
    e = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_dup_pairs(spark, SF_SMALL, threshold=0.2).collect()
    }
    n = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_dup_pairs_numpy(
            spark, SF_SMALL, threshold=0.2
        ).collect()
    }
    assert e and e == n


def test_ivf_ann_recall_and_score_parity(spark):
    from retail_sales_project_bigdata_spark.operators.similarity import (
        TOP_K,
        ann_bruteforce_topk,
        ann_ivf_topk,
    )

    bf = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in ann_bruteforce_topk(spark, SF_SMALL).collect()
    }
    ivf_rows = ann_ivf_topk(spark, SF_SMALL).collect()
    assert ivf_rows
    # every IVF hit that brute force also ranked must carry the same score
    for r in ivf_rows:
        if (r.q_id, r.neighbor_id) in bf:
            assert abs(bf[(r.q_id, r.neighbor_id)] - r.cosine) < 1e-9
    per_q = {}
    for r in ivf_rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= TOP_K for v in per_q.values())
    # recall: with nprobe=4/16 on near-random vectors expect some overlap
    hits = sum(1 for r in ivf_rows if (r.q_id, r.neighbor_id) in bf)
    assert hits > 0


def test_pq_ann_recall_and_score_parity(spark):
    """PQ-ADC candidates that survive the exact rerank must carry exact
    brute-force cosines, ranks must be dense, and the 4-byte-code path
    must recover a nonzero share of the true top-k."""
    from retail_sales_project_bigdata_spark.operators.similarity import (
        TOP_K,
        ann_bruteforce_topk,
        ann_pq_topk,
    )

    bf = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in ann_bruteforce_topk(spark, SF_SMALL).collect()
    }
    pq_rows = ann_pq_topk(spark, SF_SMALL).collect()
    assert pq_rows
    for r in pq_rows:
        if (r.q_id, r.neighbor_id) in bf:
            assert abs(bf[(r.q_id, r.neighbor_id)] - r.cosine) < 1e-9
    per_q = {}
    for r in pq_rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= TOP_K for v in per_q.values())
    hits = sum(1 for r in pq_rows if (r.q_id, r.neighbor_id) in bf)
    assert hits > 0


def test_ivfpq_ann_recall_and_score_parity(spark):
    """IVFPQ (IVFADC): candidates that survive the exact rerank carry
    exact brute-force cosines; ranks dense; the doubly-pruned path
    (nprobe lists AND 4-byte codes) still recovers part of the true
    top-k."""
    from retail_sales_project_bigdata_spark.operators.similarity import (
        TOP_K,
        ann_bruteforce_topk,
        ann_ivfpq_topk,
    )

    bf = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in ann_bruteforce_topk(spark, SF_SMALL).collect()
    }
    rows = ann_ivfpq_topk(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        if (r.q_id, r.neighbor_id) in bf:
            assert abs(bf[(r.q_id, r.neighbor_id)] - r.cosine) < 1e-9
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= TOP_K for v in per_q.values())
    hits = sum(1 for r in rows if (r.q_id, r.neighbor_id) in bf)
    assert hits > 0


def test_streaming_ann_topk_equals_batch_twin(spark):
    """Online ANN (stream-static LSH join + bounded stateful top-k) must
    emit exactly the batch ann_lsh_topk result: same hyperplane buckets,
    same rounded-cosine ranking, same (desc cosine, asc neighbor) tie
    order — the full (q_id, neighbor, cosine, rank) tuple set."""
    from retail_sales_project_bigdata_spark.operators.similarity import (
        ann_lsh_topk,
    )
    from retail_sales_project_bigdata_spark.streaming import (
        streaming_ann_topk,
    )

    got = {
        (r.q_id, r.neighbor_id, r.cosine, r["rank"])
        for r in streaming_ann_topk(spark, SF_SMALL).collect()
    }
    exp = {
        (r.q_id, r.neighbor_id, r.cosine, r["rank"])
        for r in ann_lsh_topk(spark, SF_SMALL).collect()
    }
    assert exp, "batch twin returned nothing — fixture drifted"
    assert got == exp
