"""Repo benchmark: one workload per fresh process, closed loop, one client.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 30 --trace 0

Workloads (README.md has the why of each):

- ``query_mix``: pinned query ids through the noop sink, seeded order.
- ``manifest_validate``: a seeded manifest through the runner in dry-run.
- ``manifest_etl``: seeded ETL scripts through the runner in execute mode.

The process generates its inputs from ``--seed`` inside the checkout,
builds the engine session on ``local[<nproc>]``, runs untimed warm-up
passes, then timed passes until ``--seconds`` have passed (and at least
``MIN_OPS`` ops ran), checks every output outside the timing and prints one
JSON object as the last stdout line. With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` it interleaves traced and untraced
passes and reports the per-layer metrics, the tracing overhead among them.
All scratch files live under ``.perfbench-work/`` in the checkout and are
removed at exit.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "manifest_validate", "manifest_etl")
#: Fewest timed ops per run: at least 100, so a p90 has ten samples beyond
#: it, and whole passes, so every run times the same number of passes (with
#: JIT warm-up still trending, a varying pass count moved the median).
MIN_OPS = {"query_mix": 100, "manifest_validate": 400, "manifest_etl": 240}
#: A run must end within 180 s. While other load slowed the host ~2.5x, a
#: query_mix run took 175 s; past this age no timed pass starts, even below
#: MIN_OPS, so the teardown still fits.
DEADLINE_S = 150.0
#: The Spark driver JVM's heap, fixed and pre-faulted at start: fresh memory costs
#: ~3x more on first touch on the VM this was sized on, and growing the heap
#: inside the timed passes moved their times from run to run. JIT compile
#: thresholds are scaled down so compiled code arrives during the warm-up
#: (timed passes still fell ~40% across a run without it).
DRIVER_MEM = "2g"
SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": (
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:CompileThresholdScaling=0.1"
    ),
}
#: Manifest workloads: scripts per manifest, fixture scale, and untimed
#: warm-up passes. With none, one manifest_validate run's passes took 8.93,
#: 3.27, 2.77, 2.54, 2.18, 2.18, 1.93, 2.12 s: the JIT was still compiling
#: the analyzer, and the 4th pass was still 18% above the median of the
#: next four.
MANIFEST_SCRIPTS = {"manifest_validate": 2, "manifest_etl": 3}
MANIFEST_SF = 0.01
MANIFEST_WARMUPS = 4
#: --smoke: tiny inputs for the self-test.
SMOKE_SF = 0.001
SMOKE_SCRIPTS = 1
SMOKE_QUERY_IDS = ["tpch_q6_forecast", "ext_dedup_fuzzy", "stream_dedup_state"]


def process_age() -> float:
    """Seconds since this process started, at T0 (from /proc, 10 ms grain)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return max(age - (time.perf_counter() - T0), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    p.add_argument("--out", help="directory for the trace and per-op records")
    return p.parse_args(argv)


# -- isolation ---------------------------------------------------------------

class Run:
    """Owns the run's scratch tree and its Spark session; cleans both up."""

    def __init__(self, base: str):
        self.dir = os.path.join(base, f"run-{os.getpid()}")
        self.spark = None
        _sweep_dead(base)
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "data", "scripts"):
            os.makedirs(os.path.join(self.dir, sub))
        self.tmp = os.path.join(self.dir, "tmp")

    def environ(self) -> None:
        """Point every scratch location of Python, the JVM and the engine
        into the run's tree, and pin the engine to this host's cores."""
        for k in [k for k in os.environ if k.startswith(("SPARK_GRAFT_", "BEE_PROOF_"))]:
            del os.environ[k]
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def close(self) -> None:
        spark, self.spark = self.spark, None
        try:
            if spark is not None:
                try:
                    spark.stop()
                finally:
                    _stop_jvm(spark)
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)


def _sweep_dead(base: str) -> None:
    """Remove scratch trees of runs whose process is gone (a crash)."""
    try:
        names = os.listdir(base)
    except OSError:
        return
    for name in names:
        pid = name[4:] if name.startswith("run-") else ""
        if pid.isdigit():
            try:
                os.kill(int(pid), 0)
                continue
            except ProcessLookupError:
                pass
            except OSError:
                continue
        shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def _stop_jvm(spark) -> None:
    """End the gateway JVM (it exits when its stdin closes) and wait."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.sparkContext._gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, AttributeError):
        pass
    return 0.0


def release_shuffles(spark) -> None:
    """Between passes: let the ContextCleaner drop the previous pass's
    shuffle files (same as tools/warm_probe.py)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# -- statistics --------------------------------------------------------------

def more_passes(args, passes: int, first_op: float | None, n_ops: int) -> bool:
    """Timed passes go on until ``--seconds`` have passed, at least two
    passes ran (so a traced run has an untraced pass too) and, outside
    --smoke, MIN_OPS ops ran. Passes are never cut short, and none starts
    that would, at the mean pass time so far, end after DEADLINE_S."""
    if passes < 2:
        return True
    now = time.perf_counter()
    if process_age() + (now - T0) + (now - first_op) / passes > DEADLINE_S:
        return False
    return (now - first_op < args.seconds
            or (not args.smoke and n_ops < MIN_OPS[args.workload]))


def is_traced_pass(p: int) -> bool:
    """Traced run: passes go untraced, traced, traced, untraced, ... so a
    trend across the run (JIT warm-up) cancels out of the overhead."""
    return p % 4 in (2, 3)


def trend(passes: list[float]) -> dict:
    """Least-squares change across the timed passes, as a share of their
    median; ``still_falling`` flags warm-up that had not finished."""
    n = len(passes)
    if n < 3:
        return {"fitted_change": 0.0, "still_falling": False}
    mx, my = (n - 1) / 2, statistics.fmean(passes)
    slope = sum((i - mx) * (y - my) for i, y in enumerate(passes)) / sum(
        (i - mx) ** 2 for i in range(n)
    )
    change = slope * (n - 1) / statistics.median(passes)
    return {"fitted_change": change, "still_falling": change < -0.05}


# -- tracing hooks -------------------------------------------------------------

class Hooks:
    """Everything the traced run adds: spans, Spark counters, stream progress."""

    def __init__(self, enabled: bool):
        from tracing import Tracer

        self.enabled = enabled
        self.tracer = Tracer()
        self.counters = None
        self.streams = None
        self.spark_totals: Counter = Counter()
        self.stream_totals: Counter = Counter()
        self.op_counters: dict[str, Counter] = {}

    def install_session(self) -> None:
        if not self.enabled:
            return
        from bee_proof_spark import session

        t = self.tracer
        t.wrap_everywhere(session.build_session, "session.build")
        t.wrap_everywhere(session.reset_tmp_tree, "session.reset_tmp")
        t.active = True

    def start(self, spark) -> None:
        """After setup: keep the setup spans, stop recording until a pass."""
        if not self.enabled:
            return
        from tracing import SparkCounters

        self.tracer.unwrap_all()
        self.tracer.active = False
        self.counters = SparkCounters(spark)

    def begin_pass(self, spark, install) -> None:
        from tracing import StreamProgress

        self.counters.skip()  # jobs of the untraced passes
        self.streams = StreamProgress(spark)
        install(self.tracer)
        self.tracer.active = True

    def end_pass(self) -> None:
        self.tracer.active = False
        self.tracer.unwrap_all()
        self.stream_totals.update(self.streams.snapshot())
        self.streams.close()

    def op_done(self, op: str) -> None:
        """Read the Spark counters of ``op``; the read is a span of
        whichever op is current, so it shows as tracing cost."""
        with self.tracer.span("trace.counters"):
            c = self.counters.since_last()
        self.op_counters[op] = c
        self.spark_totals.update(c)


def install_query_hooks(tracer) -> None:
    import bee_proof_spark.queries as q
    from bee_proof_spark.queries import extensions
    from bee_proof_spark.streaming import replay

    tracer.wrap_everywhere(q.tbl, "queries.tbl")
    for fn in (q.table_bytes, q.table_rows, q.scan_splits, q.spread_scan):
        tracer.wrap_everywhere(fn, "queries.meta")
    tracer.wrap_everywhere(extensions._family_checkpoint, "queries.staging")
    tracer.wrap_everywhere(replay.replay_events_stream, "streaming.replay")
    tracer.wrap_everywhere(replay.run_to_memory_sink, "streaming.replay")


def install_runner_hooks(spark):
    from bee_proof_spark.runner import executor

    def install(tracer) -> None:
        tracer.wrap(executor, "split_statements", "runner.splitter")
        tracer.wrap(executor, "substitute", "runner.substitution")
        tracer.wrap(executor, "release_violations", "runner.release_gates")
        tracer.wrap(executor, "classify", "runner.executor",
                    on_result=lambda kind: tracer.counts.update([f"kind.{kind}"]))
        tracer.wrap(executor.ScriptRunner, "_run_statement", "runner.executor")
        tracer.wrap(executor.ScriptRunner, "_validate_only", "runner.executor.validate")
        tracer.wrap(spark, "sql", "runner.executor.sql")
        tracer.wrap(type(spark.range(0)), "collect", "runner.executor.collect")

    return install


# -- workloads -----------------------------------------------------------------

def run_query_mix(args, run: Run, hooks: Hooks) -> dict:
    import querymix
    from fixture import generate

    from bee_proof_spark import session
    from bee_proof_spark.queries import extensions, load_all

    ids = SMOKE_QUERY_IDS if args.smoke else querymix.QUERY_IDS
    data = os.path.join(run.dir, "data")
    generate(data, args.seed, SMOKE_SF if args.smoke else querymix.SF)
    os.environ["SPARK_GRAFT_SF_DIR"] = data
    registry = load_all()
    hooks.install_session()
    session.reset_tmp_tree()
    run.spark = spark = session.build_session(
        app_name="perfbench-query_mix", extra_conf=SESSION_CONF
    )
    spark.sparkContext.setLogLevel("ERROR")
    hooks.start(spark)

    # The untimed warm-up pass is the oracle check: each id is built,
    # collected and compared with DuckDB once, which also pays JIT warm-up,
    # the page cache and family staging.
    warm: dict[str, float] = {}
    stages_built: set[str] = set()
    bad = {}
    for qid in querymix.pass_order(args.seed, 0, ids):
        before = len(extensions._FAMILY_CACHE)
        t = time.perf_counter()
        problem = querymix.check(spark, registry[qid], data)
        warm[qid] = time.perf_counter() - t
        if problem:
            bad[qid] = problem
        if len(extensions._FAMILY_CACHE) > before:
            stages_built.add(qid)
    staged_mb = hooks.counters.staged_mb() if hooks.enabled else 0.0
    release_shuffles(spark)
    # One untimed noop pass: the first noop-sink pass after the collect-based
    # check ran ~30% slower than the next and set the run's p90.
    for qid in querymix.pass_order(args.seed, 0, ids):
        querymix.materialize(registry[qid].builder(spark, data))
    release_shuffles(spark)

    ops, passes, errors = [], [], {}
    first_op = None
    p = 0
    while more_passes(args, p, first_op, len(ops)):
        p += 1
        traced = hooks.enabled and is_traced_pass(p)
        if traced:
            hooks.begin_pass(spark, install_query_hooks)
        t_pass = time.perf_counter()
        first_op = first_op or t_pass
        for i, qid in enumerate(querymix.pass_order(args.seed, p, ids)):
            op = f"p{p}.{i}.{qid}"
            hooks.tracer.op = op
            t = time.perf_counter()
            try:
                querymix.run_op(spark, registry[qid], data, hooks.tracer, plan=traced)
                ok = True
            except Exception as ex:  # counted as a failed op
                ok = False
                errors.setdefault(qid, f"{type(ex).__name__}: {ex}"[:300])
            if traced:
                hooks.op_done(op)
            wall = time.perf_counter() - t
            ops.append({"op": op, "id": qid, "pass": p, "wall": wall, "ok": ok,
                        "traced": traced})
        passes.append({"pass": p, "s": time.perf_counter() - t_pass, "traced": traced})
        if traced:
            hooks.end_pass()
        release_shuffles(spark)

    for o in ops:
        o["ok"] = o["ok"] and o["id"] not in bad
    timed = {}
    for o in ops:
        timed.setdefault(o["id"], []).append(o["wall"])
    staging = sum(
        max(warm[q] - statistics.median(timed[q]), 0.0) for q in stages_built if q in timed
    )
    return {
        "ops": ops, "passes": passes, "first_op": first_op, "warmup": warm,
        "problems": [f"{k}: {v}" for k, v in {**errors, **bad}.items()],
        "layer_extra": {"queries.staging_s": staging, "queries.staged_mb": staged_mb},
    }


def run_manifest(args, run: Run, hooks: Hooks) -> dict:
    import manifests
    from fixture import generate

    from bee_proof_spark import session
    from bee_proof_spark.runner.verification import Verification

    data = os.path.join(run.dir, "data")
    generate(data, args.seed, SMOKE_SF if args.smoke else MANIFEST_SF)
    kind = "validate" if args.workload == "manifest_validate" else "etl"
    m = manifests.build(
        kind, args.seed, data, SMOKE_SCRIPTS if args.smoke else MANIFEST_SCRIPTS[args.workload]
    )
    tasks = manifests.write(m, os.path.join(run.dir, "scripts"))
    paths = [t[0] for t in tasks]
    hooks.install_session()
    session.reset_tmp_tree()
    run.spark = spark = session.build_session(
        app_name=f"perfbench-{args.workload}", extra_conf=SESSION_CONF
    )
    spark.sparkContext.setLogLevel("ERROR")
    hooks.start(spark)
    install = install_runner_hooks(spark)
    echoes = {st.text for s in m.scripts for st in s.stmts}

    def one_pass(p: int, traced: bool) -> tuple[list, str | None]:
        lines: list[tuple[float, str]] = []
        n = [0]
        gap = f"p{p}.gap"  # between scripts: no statement is running

        def out(line: str) -> None:
            lines.append((time.perf_counter(), line))
            if not traced or not (line == "" or line in echoes):
                return
            # An echo starts an op; the blank line after a script ends one.
            prev = hooks.tracer.op
            if line:
                n[0] += 1
                hooks.tracer.op = f"p{p}.{n[0]}"
            else:
                hooks.tracer.op = gap
            if prev.startswith(f"p{p}.") and prev != gap:
                hooks.op_done(prev)

        v = Verification.for_release("emr-5")
        v.verbose_output = True
        for path, variables in tasks:
            v.add_task(path, variables)
        if traced:  # spans before the first echo belong to this pass
            hooks.tracer.op = gap
        try:
            v.run(enable_hadoop=m.execute, spark=spark, out=out)
            err = None
        except Exception as ex:  # the transcript check counts the lost ops
            err = f"{type(ex).__name__}: {ex}"[:300]
        return lines, err

    for _ in range(MANIFEST_WARMUPS):
        one_pass(0, False)
        release_shuffles(spark)
    ops, passes, problems, transcripts = [], [], [], []
    first_op = None
    p = 0
    rows_out = 0
    while more_passes(args, p, first_op, len(ops)):
        p += 1
        traced = hooks.enabled and is_traced_pass(p)
        if traced:
            hooks.begin_pass(spark, install)
        t_pass = time.perf_counter()
        first_op = first_op or t_pass
        lines, err = one_pass(p, traced)
        wall = time.perf_counter() - t_pass
        if traced:
            hooks.end_pass()
        release_shuffles(spark)
        parsed, bad, total_s = manifests.parse_transcript(m, paths, lines)
        if err:
            problems.append(f"pass {p}: {err}")
        problems += [f"pass {p}: {b}" for b in bad]
        for n, (start, end, st, ok, follow) in enumerate(parsed, 1):
            if traced and m.execute:
                rows_out += len(follow)
            ops.append({"op": f"p{p}.{n}", "kind": st.kind, "pass": p, "wall": end - start,
                        "ok": ok, "traced": traced})
        ops += [{"op": f"p{p}.lost{k}", "kind": "lost", "pass": p, "wall": 0.0, "ok": False,
                 "traced": traced} for k in range(m.n_ops - len(parsed))]
        passes.append({"pass": p, "s": total_s if total_s is not None else wall,
                       "traced": traced})
        transcripts.append(parsed)

    if m.execute:  # closing checksum of every script vs DuckDB
        problems += check_checksums(m, transcripts, ops)
    return {"ops": ops, "passes": passes, "first_op": first_op, "problems": problems,
            "layer_extra": {}, "rows_out": rows_out}


def check_checksums(m, transcripts, ops) -> list[str]:
    from bee_proof_spark.testing import duckdb_connect

    con = duckdb_connect(m.scripts[0].variables["DATA"])
    want = {}
    try:
        for s in m.scripts:
            if s.checksum_sql:
                row = con.execute(s.checksum_sql).fetchone()
                want[s.checksum_text] = "\t".join("NULL" if v is None else str(v) for v in row)
    finally:
        con.close()
    problems = []
    by_op = {o["op"]: o for o in ops}
    for p, parsed in enumerate(transcripts, 1):
        for n, (_, _, st, _, follow) in enumerate(parsed, 1):
            if st.text in want and follow != [want[st.text]]:
                by_op[f"p{p}.{n}"]["ok"] = False
                problems.append(f"pass {p}: checksum {follow[:1]} != {want[st.text]}")
    return problems


# -- metrics -------------------------------------------------------------------

def end_to_end(res: dict, setup_s: float) -> dict:
    walls = [o["wall"] for o in res["ops"] if o["ok"]] or [0.0, 0.0]
    attempted = len(res["ops"])
    ok = sum(o["ok"] for o in res["ops"])
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["s"] for p in res["passes"]), "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_p90_s": (statistics.quantiles(walls, n=10, method="inclusive")[8], "s"),
        "success_ratio": (ok / attempted if attempted else 0.0, "ratio"),
    }


def per_layer(res: dict, hooks: Hooks, spark, cores: int) -> dict:
    t = hooks.tracer
    traced_ops = {o["op"] for o in res["ops"] if o["traced"]}
    traced_ops |= {f"p{p['pass']}.gap" for p in res["passes"] if p["traced"]}
    n = max(sum(p["traced"] for p in res["passes"]), 1)
    selfs = t.self_times(traced_ops)
    setup_selfs = t.self_times({"setup"})

    def incl(name):
        return t.inclusive(name, traced_ops)

    # Traced query_mix passes also force planning (queries.plan_s), which
    # untraced passes never do: that is not tracing cost, so it is taken out.
    traced_passes = [p["s"] for p in res["passes"] if p["traced"]]
    plain_passes = [p["s"] for p in res["passes"] if not p["traced"]]
    overhead = (
        statistics.median(traced_passes) - statistics.median(plain_passes)
        - selfs.get("queries.plan", 0.0) / n
        if traced_passes and plain_passes else 0.0
    )
    sp, st = hooks.spark_totals, hooks.stream_totals
    traced_wall = sum(o["wall"] for o in res["ops"] if o["traced"])
    counts = t.counts
    m = {
        "session.build_s": (setup_selfs.get("session.build", 0.0), "s"),
        "session.reset_tmp_s": (setup_selfs.get("session.reset_tmp", 0.0), "s"),
        "session.jvm_peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
        "queries.build_s": (selfs.get("queries.build", 0.0) / n, "s"),
        "queries.tbl_calls": (incl("queries.tbl")[1] / n, "count"),
        "queries.tbl_s": (selfs.get("queries.tbl", 0.0) / n, "s"),
        "queries.meta_calls": (incl("queries.meta")[1] / n, "count"),
        "queries.meta_s": (selfs.get("queries.meta", 0.0) / n, "s"),
        "queries.plan_s": (selfs.get("queries.plan", 0.0) / n, "s"),
        "queries.exec_s": (selfs.get("queries.exec", 0.0) / n, "s"),
        "queries.staging_s": (res["layer_extra"].get("queries.staging_s", 0.0), "s"),
        "queries.staged_mb": (res["layer_extra"].get("queries.staged_mb", 0.0), "MB"),
        "streaming.replay_s": (incl("streaming.replay")[0] / n, "s"),
        "streaming.batches": (st["batches"] / n, "count"),
        "streaming.add_batch_ms": (st["add_batch_ms"] / n, "ms"),
        "streaming.commit_ms": (st["commit_ms"] / n, "ms"),
        "streaming.state_rows": (st["state_rows"] / n, "count"),
        "runner.splitter.split_s": (selfs.get("runner.splitter", 0.0) / n, "s"),
        "runner.substitution.substitute_s": (selfs.get("runner.substitution", 0.0) / n, "s"),
        "runner.release_gates.check_s": (selfs.get("runner.release_gates", 0.0) / n, "s"),
        "runner.statements": (sum(counts[f"kind.{k}"] for k in
                                  ("set", "command", "ddl", "exec")) / n, "count"),
        "runner.executor.set_stmts": (counts["kind.set"] / n, "count"),
        "runner.executor.command_stmts": (counts["kind.command"] / n, "count"),
        "runner.executor.ddl_stmts": (counts["kind.ddl"] / n, "count"),
        "runner.executor.exec_stmts": (counts["kind.exec"] / n, "count"),
        "runner.executor.validate_s": (incl("runner.executor.validate")[0] / n, "s"),
        "runner.executor.sql_calls": (incl("runner.executor.sql")[1] / n, "count"),
        "runner.executor.sql_s": (selfs.get("runner.executor.sql", 0.0) / n, "s"),
        "runner.executor.collect_s": (selfs.get("runner.executor.collect", 0.0) / n, "s"),
        "runner.executor.py_self_s": (selfs.get("runner.executor", 0.0) / n, "s"),
        "runner.executor.rows_out": (res.get("rows_out", 0) / n, "count"),
        "spark.jobs": (sp["jobs"] / n, "count"),
        "spark.stages": (sp["stages"] / n, "count"),
        "spark.tasks": (sp["tasks"] / n, "count"),
        "spark.input_bytes": (sp["input_bytes"] / n, "bytes"),
        "spark.shuffle_write_bytes": (sp["shuffle_write_bytes"] / n, "bytes"),
        "spark.shuffle_records": (sp["shuffle_records"] / n, "count"),
        "spark.spill_bytes": (sp["spill_bytes"] / n, "bytes"),
        "spark.output_bytes": (sp["output_bytes"] / n, "bytes"),
        "spark.task_run_s": (sp["task_run_ms"] / 1000 / n, "s"),
        "spark.task_cpu_s": (sp["task_cpu_ns"] / 1e9 / n, "s"),
        "spark.gc_s": (sp["gc_ms"] / 1000 / n, "s"),
        "spark.core_busy_ratio": (
            sp["task_run_ms"] / 1000 / (traced_wall * cores) if traced_wall else 0.0, "ratio"),
        "trace.self_s": (selfs.get("trace.counters", 0.0) / n, "s"),
        "trace.overhead_s": (overhead, "s"),
        "trace.overhead_ratio": (
            overhead / statistics.median(plain_passes) if plain_passes else 0.0, "ratio"),
    }
    return m


def write_records(out_dir: str, res: dict, hooks: Hooks) -> None:
    os.makedirs(out_dir, exist_ok=True)
    hooks.tracer.dump(os.path.join(out_dir, "spans.jsonl"))
    with open(os.path.join(out_dir, "ops.jsonl"), "w", encoding="utf-8") as f:
        for o in res["ops"]:
            f.write(json.dumps({**o, "spark": hooks.op_counters.get(o["op"], {})}) + "\n")


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bee_proof_spark")):
        print(f"perfbench: no engine package next to {HERE}", file=sys.stderr)
        return 2
    age = process_age()
    load_before = os.getloadavg()
    run = Run(os.path.join(ROOT, ".perfbench-work"))
    run.environ()
    sys.path[:0] = [ROOT, HERE]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        hooks = Hooks(args.trace == 1)
        runner = run_query_mix if args.workload == "query_mix" else run_manifest
        res = runner(args, run, hooks)
        spark = run.spark
        setup_s = age + (res["first_op"] - T0)
        cores = spark.sparkContext.defaultParallelism
        if args.trace:
            metrics = per_layer(res, hooks, spark, cores)
        else:
            metrics = end_to_end(res, setup_s)
        timed = [p["s"] for p in res["passes"] if not p["traced"]]
        telemetry = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)), "cpus_effective": cores,
            "master": spark.sparkContext.master,
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "jvm_peak_rss_mb": jvm_peak_rss_mb(spark), "setup_s": setup_s,
            "passes": res["passes"], "warmup_trend": trend(timed),
            "ops": len(res["ops"]), "problems": res["problems"][:20],
            "warmup": res.get("warmup", {}),
        }
        if args.out:
            write_records(args.out, res, hooks)
    finally:
        run.close()
    failed = sum(not o["ok"] for o in res["ops"])
    print(json.dumps({"telemetry": telemetry}))
    print(json.dumps({
        "correct": failed == 0 and not res["problems"],
        "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
