"""Seeded bee-proof manifests for the two runner workloads.

Both workloads run the same shape of manifest through
``Verification.for_release("emr-5")`` with verbose echo on:

- a ``views`` task that maps the fixture tables to temp views;
- a few scripts that mix ``SET`` lines, ``${VAR}`` / ``${hiveconf:...}``
  references, temp views, DDL and TPC-H-shaped statements.

``manifest_validate`` runs them in dry-run, so every SELECT, INSERT...SELECT
and CTAS is only analysed (``> Skipped!``). ``manifest_etl`` runs in execute
mode: each script writes warehouse tables, reads them back, closes with a
checksum SELECT and drops its tables, so every pass does identical work.

The generator knows each statement's kind, so a pass's transcript can be
checked line by line (:func:`parse_transcript`) and its op latencies read
from the verbose echo timestamps. The seed picks parameters and statement
order; the number of statements of each kind is fixed per workload.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


@dataclass
class Stmt:
    text: str  # the statement after ${...} substitution, as the runner echoes it
    kind: str  # set | command | ddl | exec (the runner's classification)
    raw: str = ""  # the statement as written in the script

    def __post_init__(self):
        self.raw = self.raw or self.text


@dataclass
class Script:
    name: str
    stmts: list[Stmt]
    variables: dict[str, str] = field(default_factory=dict)
    #: execute mode: the closing checksum SELECT, and the same checksum as
    #: DuckDB SQL over the fixture tables
    checksum_text: str | None = None
    checksum_sql: str | None = None


@dataclass
class Manifest:
    scripts: list[Script]
    execute: bool

    @property
    def n_ops(self) -> int:
        return sum(len(s.stmts) for s in self.scripts)


def _date(rng: random.Random, lo_year: int = 1995, hi_year: int = 2000) -> str:
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-01"


def _views(data_dir: str) -> Script:
    stmts = [
        Stmt(
            f"CREATE OR REPLACE TEMPORARY VIEW {t} USING parquet "
            f"OPTIONS (path '{data_dir}/{t}.parquet')",
            "ddl",
            f"CREATE OR REPLACE TEMPORARY VIEW {t} USING parquet "
            f"OPTIONS (path '${{DATA}}/{t}.parquet')",
        )
        for t in TABLES
    ]
    return Script("views", stmts, {"DATA": data_dir})


# -- manifest_validate -------------------------------------------------------

#: TPC-H-shaped query bodies over the fixture views. ``{v}`` is the script's
#: date-filtered lineitem view; ``{p}`` holds per-statement parameters. Each
#: entry: (name, output columns with types, SELECT body).
_SHAPES = [
    ("q1", "flag STRING, status STRING, qty DOUBLE, base DOUBLE, disc DOUBLE, n BIGINT",
     "SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), "
     "sum(l_extendedprice * (1 - l_discount)), count(*) FROM {v} "
     "WHERE l_shipdate <= TIMESTAMP '{p[d1]}' GROUP BY l_returnflag, l_linestatus"),
    ("q3", "orderkey BIGINT, revenue DOUBLE, orderdate TIMESTAMP",
     "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate "
     "FROM customer JOIN orders ON c_custkey = o_custkey JOIN {v} ON l_orderkey = o_orderkey "
     "WHERE c_mktsegment = '{p[seg]}' AND o_orderdate < TIMESTAMP '{p[d1]}' "
     "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC LIMIT ${{hiveconf:bench.top_n}}"),
    ("q5", "nation STRING, revenue DOUBLE",
     "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
     "FROM customer JOIN orders ON c_custkey = o_custkey JOIN {v} ON l_orderkey = o_orderkey "
     "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
     "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
     "WHERE r_name = '{p[region]}' GROUP BY n_name"),
    ("q6", "revenue DOUBLE",
     "SELECT sum(l_extendedprice * l_discount) FROM {v} "
     "WHERE l_discount BETWEEN {p[disc]} - 0.01 AND {p[disc]} + 0.01 AND l_quantity < {p[qty]}"),
    ("q10", "custkey BIGINT, name STRING, revenue DOUBLE, nation STRING",
     "SELECT c_custkey, c_name, sum(l_extendedprice * (1 - l_discount)) AS revenue, n_name "
     "FROM customer JOIN orders ON c_custkey = o_custkey JOIN {v} ON l_orderkey = o_orderkey "
     "JOIN nation ON c_nationkey = n_nationkey WHERE l_returnflag = 'R' "
     "GROUP BY c_custkey, c_name, n_name ORDER BY revenue DESC LIMIT ${{hiveconf:bench.top_n}}"),
    ("q12", "flag STRING, high BIGINT, low BIGINT",
     "SELECT l_returnflag, sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END), "
     "sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) "
     "FROM orders JOIN {v} ON o_orderkey = l_orderkey GROUP BY l_returnflag"),
    ("q13", "orders BIGINT, custs BIGINT",
     "SELECT c_count, count(*) FROM (SELECT c_custkey, count(o_orderkey) AS c_count "
     "FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey "
     "AND o_orderpriority <> '{p[prio]}' GROUP BY c_custkey) c GROUP BY c_count"),
    ("q14", "promo DOUBLE",
     "SELECT 100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice ELSE 0 END) "
     "/ sum(l_extendedprice) FROM {v} JOIN part ON l_partkey = p_partkey "
     "WHERE l_shipdate >= TIMESTAMP '{p[d1]}'"),
    ("q18", "name STRING, custkey BIGINT, orderkey BIGINT, qty DOUBLE",
     "SELECT c_name, c_custkey, o_orderkey, sum(l_quantity) FROM customer "
     "JOIN orders ON c_custkey = o_custkey JOIN {v} ON o_orderkey = l_orderkey "
     "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
     "HAVING sum(l_quantity) > {p[big]}) GROUP BY c_name, c_custkey, o_orderkey"),
]

#: Each validate script emits every shape once in each of these forms.
_FORMS = ("select", "insert", "ctas")


def _validate_script(idx: int, rng: random.Random) -> Script:
    cutoff = _date(rng, 1995, 1997)
    top_n = str(rng.randint(5, 20))
    view = f"li_s{idx}"
    stmts = [
        Stmt(f"SET hivevar:CUTOFF={cutoff}", "set"),
        Stmt(f"SET bench.top_n={top_n}", "set"),
        Stmt(
            f"CREATE OR REPLACE TEMPORARY VIEW {view} AS SELECT * FROM lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{cutoff}'",
            "ddl",
            f"CREATE OR REPLACE TEMPORARY VIEW {view} AS SELECT * FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '${CUTOFF}'",
        ),
    ]
    targets = [(f"rpt_s{idx}_{name}", cols) for name, cols, _ in _SHAPES]
    stmts += [
        Stmt(f"CREATE TABLE IF NOT EXISTS {t} ({cols}) USING parquet", "ddl")
        for t, cols in targets
    ]
    body: list[Stmt] = []
    for (name, _, sql), (target, _) in zip(_SHAPES, targets):
        for form in _FORMS:
            p = {
                "d1": _date(rng),
                "seg": rng.choice(SEGMENTS),
                "region": rng.choice(REGIONS),
                "disc": f"0.0{rng.randint(2, 8)}",
                "qty": str(rng.randint(20, 30)),
                "prio": rng.choice(("1-URGENT", "3-MEDIUM", "5-LOW")),
                "big": str(rng.randint(120, 200)),
            }
            select = sql.format(v=view, p=p)
            if form == "insert":
                select = f"INSERT OVERWRITE TABLE {target} {select}"
            elif form == "ctas":
                select = f"CREATE TABLE ctas_s{idx}_{name} USING parquet AS {select}"
            text = select.replace("${hiveconf:bench.top_n}", top_n)
            body.append(Stmt(text, "exec", select))
    rng.shuffle(body)
    stmts += body
    stmts += [Stmt(f"DROP TABLE IF EXISTS {t}", "ddl") for t, _ in targets]
    return Script(f"validate_{idx}", stmts)


# -- manifest_etl ------------------------------------------------------------

def _etl_script(idx: int, rng: random.Random) -> Script:
    lo_year = rng.randint(1995, 1998)
    lo, hi = f"{lo_year}-{rng.randint(1, 12):02d}-01", f"{lo_year + 3}-01-01"
    seg = rng.choice(SEGMENTS)
    top_n = str(rng.randint(5, 10))
    t = f"etl{idx}"
    # Every written column is an integer or a string, so sums are exact and
    # the DuckDB checksum below matches bit for bit.
    li_sel = (
        "SELECT l_orderkey, l_partkey, l_suppkey, CAST(l_quantity AS INT) AS qty, "
        "CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price_c, "
        "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS net_c, "
        "l_returnflag, l_linestatus FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'"
    )
    ord_sel = (
        "SELECT o_orderkey, o_custkey, o_orderpriority, c_nationkey, c_mktsegment, "
        "CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS total_c "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "WHERE o_orderdate >= TIMESTAMP '{lo}'"
    )
    rev_nation = (
        "SELECT n_name AS nation, l_returnflag AS flag, count(*) AS n, "
        "sum(qty) AS qty, sum(net_c) AS net_c FROM {t}_li "
        "JOIN {t}_ord ON l_orderkey = o_orderkey JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name, l_returnflag"
    )
    rev_all = (
        "SELECT 'ALL' AS nation, l_returnflag AS flag, count(*) AS n, "
        "sum(qty) AS qty, sum(net_c) AS net_c FROM {t}_li GROUP BY l_returnflag"
    )
    part_sel = (
        "SELECT p_type, p_brand, count(*) AS n, sum(price_c) AS price_c "
        "FROM {t}_li JOIN part ON l_partkey = p_partkey GROUP BY p_type, p_brand"
    )
    seg_sel = (
        "SELECT c_mktsegment, o_orderpriority, count(*) AS n, sum(total_c) AS total_c "
        "FROM {t}_ord JOIN {t}_li ON o_orderkey = l_orderkey "
        "WHERE c_mktsegment = '{seg}' GROUP BY c_mktsegment, o_orderpriority"
    )
    fmt = {"t": t, "lo": lo, "hi": hi, "seg": seg}
    raw_fmt = {"t": t, "lo": "${LO}", "hi": "${HI}", "seg": "${hiveconf:bench.segment}"}

    def stmt(template: str, kind: str) -> Stmt:
        return Stmt(
            template.format(**fmt).replace("${hiveconf:bench.top_n}", top_n),
            kind,
            template.format(**raw_fmt),
        )

    checksum = "SELECT count(*), sum(n), sum(qty), sum(net_c) FROM {t}_rev"
    stmts = [
        Stmt(f"SET bench.segment={seg}", "set"),
        Stmt(f"SET bench.top_n={top_n}", "set"),
        stmt(f"CREATE TABLE {{t}}_li USING parquet AS {li_sel}", "exec"),
        stmt(f"CREATE TABLE {{t}}_ord USING parquet AS {ord_sel}", "exec"),
        stmt("CREATE TABLE {t}_rev (nation STRING, flag STRING, n BIGINT, qty BIGINT, "
             "net_c BIGINT) USING parquet", "ddl"),
        stmt(f"INSERT OVERWRITE TABLE {{t}}_rev {rev_nation}", "exec"),
        stmt(f"INSERT INTO TABLE {{t}}_rev {rev_all}", "exec"),
        stmt(f"CREATE TABLE {{t}}_part USING parquet AS {part_sel}", "exec"),
        stmt(f"CREATE TABLE {{t}}_seg USING parquet AS {seg_sel}", "exec"),
        stmt("SELECT nation, sum(net_c) AS net_c FROM {t}_rev GROUP BY nation "
             "ORDER BY net_c DESC, nation LIMIT ${{hiveconf:bench.top_n}}", "exec"),
        stmt("SELECT p_type, sum(n) AS n, sum(price_c) AS price_c FROM {t}_part "
             "GROUP BY p_type ORDER BY p_type", "exec"),
        stmt("SELECT o_orderpriority, n, total_c FROM {t}_seg ORDER BY o_orderpriority",
             "exec"),
        stmt(checksum, "exec"),
    ]
    stmts += [stmt(f"DROP TABLE {{t}}_{s}", "ddl") for s in ("li", "ord", "rev", "part", "seg")]
    # DuckDB recomputes the checksum straight from the fixture.
    ctes = (
        f"WITH {t}_li AS ({li_sel}), {t}_ord AS ({ord_sel}), "
        f"{t}_rev AS ({rev_nation} UNION ALL {rev_all}) "
    ).format(**fmt)
    return Script(
        f"etl_{idx}", stmts, {"LO": lo, "HI": hi},
        checksum_text=checksum.format(**fmt), checksum_sql=ctes + checksum.format(**fmt),
    )


def build(kind: str, seed: int, data_dir: str, scripts: int) -> Manifest:
    """The workload's manifest: the views task, then ``scripts`` scripts."""
    rng = random.Random(seed)
    make = _validate_script if kind == "validate" else _etl_script
    return Manifest(
        [_views(data_dir)] + [make(i, rng) for i in range(scripts)],
        execute=kind == "etl",
    )


def write(manifest: Manifest, script_dir: str) -> list[tuple[str, dict[str, str]]]:
    """Write each script as ``<name>.hql``; returns ``[(path, variables)]``."""
    os.makedirs(script_dir, exist_ok=True)
    tasks = []
    for s in manifest.scripts:
        path = os.path.join(script_dir, f"{s.name}.hql")
        with open(path, "w", encoding="utf-8") as f:
            f.write("".join(f"{st.raw};\n" for st in s.stmts))
        tasks.append((path, s.variables))
    return tasks


def parse_transcript(manifest: Manifest, paths: list[str], lines: list[tuple[float, str]]):
    """Match one pass's timestamped runner output against the manifest.

    Returns ``(ops, problems, total_s)``: one ``(start, end, stmt, ok,
    follow)`` per statement that started (start = its echo, end = the next
    echo or the script's closing blank line, follow = the lines it printed),
    the protocol problems found, and the runner's own ``> Total time`` in
    seconds (None if missing). In dry-run a statement is ok when exactly the
    exec statements are followed by ``> Skipped!``; in execute mode when only
    queries print rows.
    """
    problems: list[str] = []
    ops = []
    i, n = 0, len(lines)
    for script, path in zip(manifest.scripts, paths):
        if i >= n or lines[i][1] != f">>>>>>>> Processing:  {path}":
            problems.append(f"{script.name}: missing Processing line")
            break
        i += 1
        for k, st in enumerate(script.stmts):
            if i >= n or lines[i][1] != st.text:
                problems.append(f"{script.name}: no echo of {st.text[:60]!r}")
                break
            start = lines[i][0]
            i += 1
            nxt = script.stmts[k + 1].text if k + 1 < len(script.stmts) else ""
            follow = []
            while i < n and lines[i][1] != nxt:
                follow.append(lines[i][1])
                i += 1
            if manifest.execute:
                ok = bool(follow) == st.text.startswith("SELECT")
            else:
                ok = follow == (["> Skipped!"] if st.kind == "exec" else [])
            if not ok:
                problems.append(f"{script.name}: {follow[:2]!r} after {st.text[:60]!r}")
            ops.append((start, lines[i][0] if i < n else start, st, ok, follow))
        else:
            if [ln for _, ln in lines[i : i + 2]] == ["", ""]:
                i += 2
                continue
            problems.append(f"{script.name}: missing closing blank lines")
        break
    total_s = None
    last = lines[-1][1] if lines else ""
    if i == n - 1 and last.startswith("> Total time:  ") and last.endswith("ms"):
        total_s = int(last[len("> Total time:  "):-2]) / 1000.0
    else:
        problems.append("> Total time: is not the line after the last script")
    return ops, problems, total_s
