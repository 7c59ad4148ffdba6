"""Per-id layer times of bench.py's full id list, to pin ``query_mix``'s subset.

    python3 perfbench/idshares.py [--sf 0.001] [--passes 3] [--out shares.json]

Runs every STABLE + TAIL id of the repo's ``bench.py`` in one fresh process
at the benchmark's fixture scale: two untimed warm-up passes, then traced
passes. For each id it reports the median op wall time and the mean time per
pass in three layers: builders (``queries.*`` self time: builder, ``tbl``,
metadata helpers, staging), stream replay (``streaming.replay``) and
execution (the noop write). It then prints the layer shares of the full list
and of ``querymix.QUERY_IDS``, which should agree.
"""

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = ("build", "replay", "exec")


def measure(sf: float, seed: int, n_passes: int) -> dict:
    import run as R
    from fixture import generate

    import bench
    import querymix

    run = R.Run(os.path.join(ROOT, ".perfbench-work"))
    run.environ()
    try:
        data = os.path.join(run.dir, "data")
        generate(data, seed, sf)
        os.environ["SPARK_GRAFT_SF_DIR"] = data
        from bee_proof_spark import session
        from bee_proof_spark.queries import load_all

        registry = load_all()
        session.reset_tmp_tree()
        run.spark = spark = session.build_session(
            app_name="perfbench-idshares", extra_conf=R.SESSION_CONF
        )
        spark.sparkContext.setLogLevel("ERROR")
        hooks = R.Hooks(True)
        hooks.start(spark)
        ids = bench.BENCH_QUERIES
        for _ in range(2):
            for qid in ids:
                querymix.materialize(registry[qid].builder(spark, data))
            R.release_shuffles(spark)
        walls = {qid: [] for qid in ids}
        for p in range(1, n_passes + 1):
            hooks.begin_pass(spark, R.install_query_hooks)
            for qid in querymix.pass_order(seed, p, ids):
                hooks.tracer.op = f"{qid}#{p}"
                t = time.perf_counter()
                querymix.run_op(spark, registry[qid], data, hooks.tracer, plan=False)
                walls[qid].append(time.perf_counter() - t)
            hooks.end_pass()
            R.release_shuffles(spark)
        out = {}
        for qid in ids:
            ops = {f"{qid}#{p}" for p in range(1, n_passes + 1)}
            selfs = hooks.tracer.self_times(ops)
            out[qid] = {
                "wall": statistics.median(walls[qid]),
                "build": sum(v for k, v in selfs.items()
                             if k.startswith("queries.") and k != "queries.exec") / n_passes,
                "replay": hooks.tracer.inclusive("streaming.replay", ops)[0] / n_passes,
                "exec": selfs.get("queries.exec", 0.0) / n_passes,
            }
        return out
    finally:
        run.close()


def shares(per_id: dict, ids) -> tuple[dict, float]:
    totals = {k: sum(per_id[q][k] for q in ids) for k in LAYERS}
    pass_s = sum(totals.values())
    return {k: v / pass_s for k, v in totals.items()}, pass_s


def main(argv) -> int:
    sys.path[:0] = [ROOT, HERE]
    import querymix

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", type=float, default=querymix.SF)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--passes", type=int, default=3)
    p.add_argument("--out", help="write the per-id numbers here as JSON")
    args = p.parse_args(argv)
    per_id = measure(args.sf, args.seed, args.passes)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(per_id, f, indent=1)
    for qid, v in sorted(per_id.items(), key=lambda kv: -kv[1]["wall"]):
        mark = "*" if qid in querymix.QUERY_IDS else " "
        print(f"{mark} {qid:28s} " + " ".join(f"{k}={v[k]:.3f}" for k in ("wall", *LAYERS)))
    for name, ids in (("full list", list(per_id)), ("QUERY_IDS", querymix.QUERY_IDS)):
        sh, pass_s = shares(per_id, ids)
        print(f"{name:10s} {len(ids):2d} ids  pass {pass_s:.2f} s  "
              + "  ".join(f"{k} {100 * sh[k]:.1f}%" for k in LAYERS))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
