"""The ``query_mix`` workload: registered query builders to the noop sink.

One op is one query id: build its DataFrame and force full computation
through the ``noop`` sink, as the repo's ``bench.py`` does. The id list is a
pinned subset of ``bench.py``'s STABLE + TAIL lists with the same layer
shares (README.md says why not all 41); the seed permutes the order in each
pass.
"""

from __future__ import annotations

import random

#: Pinned subset of bench.py's STABLE + TAIL ids, in bench.py order. It was
#: chosen so that its warm pass splits into builder, stream-replay and
#: execution time in the same shares as the full 41-id pass, measured with
#: ``idshares.py`` at ``SF`` on 4 cores (README.md has the table): full list
#: 28.8% / 32.1% / 39.1% of a 20.1 s pass, this subset 28.7% / 32.4% / 39.0%
#: of a 4.4 s pass. The one replayed-stream id that fits is
#: ``stream_dedup_state`` (1.5 s); ``stream_session_stateful`` alone takes
#: 5.8 s. Two ids stage families (``_family_checkpoint``).
QUERY_IDS = [
    "tpch_q6_forecast",
    "agg_skew_salted",
    "stream_tumbling_batch",
    "ext_dedup_exact",
    "ext_text_wordcount",
    "ext_knn_cosine",
    "ext_dedup_fuzzy",
    "tpch_q4_priority",
    "dml_scd2_history",
    "join_range_bucketed",
    "ext_dedup_fuzzy_verified",
    "ext_chunk_documents",
    "ext_pack_sequences",
    "win_rank_dense",
    "stream_dedup_state",
]

#: Fixture scale: 6k lineitem rows. Per-op time at sf0.01 is only ~25%
#: more; both are mostly planning and scheduling.
SF = 0.001


def pass_order(seed: int, pass_no: int, ids: list[str]) -> list[str]:
    order = list(ids)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_op(spark, spec, data_dir: str, tracer, plan: bool) -> None:
    """One op. Under tracing, build / plan / execute are separate spans."""
    with tracer.span("queries.build"):
        df = spec.builder(spark, data_dir)
    if plan:
        with tracer.span("queries.plan"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("queries.exec"):
        materialize(df)


def check(spark, spec, data_dir: str) -> str | None:
    """DuckDB oracle check of one id; returns the problem, or None."""
    from bee_proof_spark.testing import compare_to_oracle

    try:
        ok, msg = compare_to_oracle(spark, spec, data_dir)
    except Exception as ex:  # a failing check fails the id's ops, not the run
        ok, msg = False, f"{type(ex).__name__}: {ex}"
    return None if ok else msg[:300]
