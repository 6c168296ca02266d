"""The two workloads: each draws its operation stream from the seed
(`plan`) and checks what the JVM recorded against DuckDB over the same
parquet (`check`). Statistics are computed here from the per-operation
records; README.md documents every metric.
"""
import hashlib
import itertools
import json
import os
import random
import statistics

import duckdb
import numpy as np

import canon

# The metrics of BENCHMARK.json. Every workload reports all of them; the
# "operation" is the workload's main unit of work and "aux" its second one
# (README.md, "Metrics").
END_TO_END = ["setup_s", "op_ms_scaled", "ops_per_s_scaled", "aux_ms_scaled"]
# each of them: the measured metric it comes from, and the power of the
# host's slowness (README.md, "Host speed") it is divided by
SCALED = {"setup_s": ("setup_measured_s", 1), "op_ms_scaled": ("op_ms", 1),
          "ops_per_s_scaled": ("ops_per_s", -1), "aux_ms_scaled": ("aux_ms", 1)}
PER_LAYER = ["catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
             "exec.jobs_per_op", "exec.tasks_per_op", "exec.executor_run_ms_per_op",
             "exec.executor_cpu_ms_per_op", "exec.driver_gap_ms_per_op", "exec.input_mb",
             "exec.shuffle_write_mb", "delivery.ms", "delivery.rows", "jvm.gc_s", "jvm.peak_rss_mb"]


def pct(xs, p):
    return float(np.percentile(np.asarray(xs, dtype=float), p)) if xs else float("nan")


def med(xs):
    return float(statistics.median(xs)) if xs else float("nan")


def gmean(xs):
    return float(np.exp(np.mean(np.log(xs)))) if xs else float("nan")


def kinds_ms(samples):
    """The geometric mean over kinds of each kind's median, for (kind, ms)
    pairs: a median over all samples falls between groups of kinds that
    differ by half or more, and moved with a run's exact mix.
    """
    by = {}
    for k, ms in samples:
        by.setdefault(k, []).append(ms)
    return gmean([med(v) for v in by.values()])


def digest_of(obj):
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    return con


def split(result):
    n = result["untraced_ops"]
    return result["ops"][:n], result["ops"][n:]


def corrupt_first(expected, n):
    """Self-test: replace the first n expected digests with wrong ones."""
    for k in list(expected)[:n]:
        expected[k] = "corrupted-" + str(expected[k])
    return expected


def common_layers(result, ops_traced, n_ops, rows, delivery_ms, untraced_p50, traced_p50):
    """Layer metrics every workload reports, from the traced phase."""
    lay = result.get("layers", {})
    n = max(1, n_ops)
    out = {
        "catalyst.parsing_ms": (lay.get("catalyst.parsing_ms", 0.0), "ms"),
        "catalyst.analysis_ms": (lay.get("catalyst.analysis_ms", 0.0), "ms"),
        "catalyst.optimization_ms": (lay.get("catalyst.optimization_ms", 0.0), "ms"),
        "catalyst.planning_ms": (lay.get("catalyst.planning_ms", 0.0), "ms"),
        "catalyst.executions": (lay.get("catalyst.executions", 0), "count"),
        "exec.jobs": (lay.get("exec.jobs", 0), "count"),
        "exec.stages": (lay.get("exec.stages", 0), "count"),
        "exec.stages_skipped": (lay.get("exec.stages_skipped", 0), "count"),
        "exec.tasks": (lay.get("exec.tasks", 0), "count"),
        "exec.task_failures": (lay.get("exec.task_failures", 0), "count"),
        "exec.executor_run_s": (lay.get("exec.executor_run_s", 0.0), "s"),
        "exec.executor_cpu_s": (lay.get("exec.executor_cpu_s", 0.0), "s"),
        "exec.gc_s": (lay.get("exec.gc_s", 0.0), "s"),
        "exec.input_mb": (lay.get("exec.input_mb", 0.0), "MB"),
        "exec.shuffle_write_mb": (lay.get("exec.shuffle_write_mb", 0.0), "MB"),
        "exec.shuffle_read_mb": (lay.get("exec.shuffle_read_mb", 0.0), "MB"),
        "exec.spill_mb": (lay.get("exec.spill_mb", 0.0), "MB"),
        "exec.driver_gap_s": (lay.get("exec.driver_gap_s", 0.0), "s"),
        "exec.jobs_per_op": (lay.get("exec.jobs", 0) / n, "count"),
        "exec.tasks_per_op": (lay.get("exec.tasks", 0) / n, "count"),
        "exec.executor_run_ms_per_op": (lay.get("exec.executor_run_s", 0.0) * 1e3 / n, "ms"),
        "exec.executor_cpu_ms_per_op": (lay.get("exec.executor_cpu_s", 0.0) * 1e3 / n, "ms"),
        "exec.driver_gap_ms_per_op": (lay.get("exec.driver_gap_s", 0.0) * 1e3 / n, "ms"),
        "delivery.s": (sum(delivery_ms) / 1e3, "s"),
        "delivery.ms": (med(delivery_ms), "ms"),
        "delivery.rows": (sum(rows), "count"),
        "delivery.mb": (sum(o.get("bytes", 0) for o in ops_traced) / 2**20, "MB"),
        "jvm.gc_s": (lay.get("jvm.gc_s", 0.0), "s"),
        "jvm.peak_rss_mb": (result["vmhwm_kb"] / 1024.0, "MB"),
        "trace.ops": (n_ops, "count"),
        "trace.spans": (result.get("trace_spans", 0), "count"),
        "trace.overhead_ms": (traced_p50 - untraced_p50, "ms"),
        "trace.overhead_pct": (100.0 * (traced_p50 - untraced_p50) / untraced_p50
                               if untraced_p50 else 0.0, "%"),
    }
    for name, ms in result.get("trace_self_ms", {}).items():
        out[f"self.{name}_ms_per_op"] = (ms / n, "ms")
    return out


def as_metrics(d):
    return {k: {"value": v[0], "unit": v[1]} for k, v in d.items()}


# ---------------------------------------------------------------- operator_batch

class OperatorBatch:
    """Seed-ordered passes over the head of the ROADMAP's work queue and two
    reads of the unstructured sources, each result delivered in full (every
    column of every row).

    Five gates only: on 4 cores one pass over the ten costliest non-PDF
    gates takes about 25 s even at 100 documents (they are bound by job
    count, not data), which does not fit a run. The PDF gates write their
    fixtures under a fixed /tmp path (CatalogQueries.wh), outside the run's
    own directory; the two unstructured steps read fixtures of the run's
    own instead (data.files), one text file and one PDF per document.
    """
    SF = 0.002
    TABLES = ["documents", "lineitem"]
    SETUPS = 7          # session start, Graft.install and the fixtures: cheap but noisy
    # untimed passes on the set-up that serves the run: without one its first
    # measured pass was about half as slow again as the next
    PREPARE_PASSES = 1
    GATES = ["text_gopher_quality", "text_gopher_repetition", "q_approx_percentile",
             "text_pii_scrub", "text_c4_clean"]
    # name: (graft statement, DuckDB form over the parquet the files came from)
    STEPS = {
        "unstructured_text": (
            "SELECT CAST(regexp_extract(path, '([0-9]+)[.]txt$', 1) AS BIGINT) AS doc_id, textcontent "
            "FROM graft.datasource.un.corpus.content",
            "SELECT doc_id, text AS textcontent FROM documents"),
        "unstructured_pdf": (
            "SELECT CAST(regexp_extract(path, '([0-9]+)[.]pdf$', 1) AS BIGINT) AS doc_id, textcontent "
            "FROM graft.datasource.un.scans.content",
            "SELECT doc_id, text AS textcontent FROM documents"),
    }
    SETUP = [
        "REGISTER OR REPLACE TEXT DATASOURCE corpus OPTIONS (path '${DIR}/files/text') "
        "NAMESPACE graft.datasource.un",
        "REGISTER OR REPLACE PDF DATASOURCE scans OPTIONS (path '${DIR}/files/pdf') "
        "NAMESPACE graft.datasource.un",
    ]

    # one row holding every kind of value, for the validation run: it checks
    # that Canon.scala and canon.py print the same values the same way
    PROBE = (
        "SELECT true AS b, 7 AS i, CAST(-7 AS BIGINT) AS l, CAST(0.1 AS DOUBLE) AS d, "
        "CAST('NaN' AS DOUBLE) AS nan, CAST('-Infinity' AS DOUBLE) AS ninf, "
        "CAST(12345678.05 AS DOUBLE) AS tie, CAST(123.456789012 AS DECIMAL(20,9)) AS dec, "
        "'a' || chr(9) || 'b' || chr(10) || chr(92) || 'é' AS s, CAST(NULL AS STRING) AS n, "
        "TIMESTAMP '2020-01-02 03:04:05.5' AS ts, DATE '2020-01-02' AS dt, X'00FF' AS bin, "
        "array(CAST(1.5 AS DOUBLE), NULL) AS arr, named_struct('y', 'q', 'x', 1) AS st, "
        "map('b', 2, 'a', 1) AS m",
        "SELECT true AS b, 7 AS i, CAST(-7 AS BIGINT) AS l, CAST(0.1 AS DOUBLE) AS d, "
        "CAST('NaN' AS DOUBLE) AS nan, CAST('-Infinity' AS DOUBLE) AS ninf, "
        "CAST(12345678.05 AS DOUBLE) AS tie, CAST(123.456789012 AS DECIMAL(20,9)) AS dec, "
        "'a' || chr(9) || 'b' || chr(10) || chr(92) || 'é' AS s, CAST(NULL AS VARCHAR) AS n, "
        "TIMESTAMP '2020-01-02 03:04:05.5' AS ts, DATE '2020-01-02' AS dt, from_hex('00ff') AS bin, "
        "[CAST(1.5 AS DOUBLE), NULL] AS arr, {'y': 'q', 'x': 1} AS st, "
        "MAP {'b': 2, 'a': 1} AS m")

    @classmethod
    def plan(cls, seed, data_dir, validate=False):
        rng = random.Random(seed)
        names = cls.GATES + sorted(cls.STEPS)
        passes = [rng.sample(names, len(names)) for _ in range(100)]
        digest = digest_of(passes)
        if validate:
            passes[0].append("canon_probe")
        return {"passes": passes,
                "prepare": names * cls.PREPARE_PASSES, "setup_sql": cls.SETUP,
                "fixtures": "files", "stream_digest": digest,
                "steps": dict({k: v[0] for k, v in cls.STEPS.items()}, canon_probe=cls.PROBE[0])}

    @classmethod
    def check(cls, plan, result, corrupt=0, trace=False):
        errors = [f"gate {g} has no oracle" for g, s in result["oracles"].items() if not s]
        con = duck(plan["data"])
        oracles = dict(result["oracles"], **{k: v[1] for k, v in cls.STEPS.items()})
        if plan["validate"]:
            oracles["canon_probe"] = cls.PROBE[1]
        expected = corrupt_first({g: canon.query(con, s)[1]
                                  for g, s in sorted(oracles.items()) if s}, corrupt)
        untraced, traced = split(result)

        def judge(ops):
            gates, passes, failed = [], [], 0
            for o in ops:
                if o["kind"] == "pass":
                    passes.append(o)
                    continue
                ok = "err" not in o and o.get("digest") == expected.get(o["gate"])
                if not ok:
                    failed += 1
                    errors.append(f"gate {o['gate']} pass {o['pass']}: "
                                  f"{o.get('err') or 'digest ' + str(o.get('digest'))}")
                o["ok"] = ok
                gates.append(o)
            # a pass counts only if every gate in it delivered a correct result
            bad = {o["pass"] for o in gates if not o["ok"]}
            full = [p for p in passes if p["pass"] not in bad]
            return gates, full, failed

        gates, full, failed = judge(untraced)
        ok_ms = [o["ms"] for o in gates if o["ok"]]
        wall_s = sum(p["ms"] for p in full) / 1e3
        steps_ms = kinds_ms((o["gate"], o["ms"]) for o in gates if o["ok"])
        e2e = {"op_ms": (steps_ms, "ms"),
               "ops_per_s": (len(ok_ms) / wall_s if wall_s else 0.0, "1/s"),
               "aux_ms": (med([p["ms"] for p in full]), "ms")}
        detail = {"batch_s": (med([p["ms"] for p in full]) / 1e3, "s", len(full)),
                  "gate_p50_ms": (med(ok_ms), "ms", len(ok_ms)),
                  "gate_kinds_gm_ms": (steps_ms, "ms", len(ok_ms)),
                  "gate_p90_ms": (pct(ok_ms, 90), "ms", len(ok_ms))}
        for g in cls.GATES + sorted(cls.STEPS):
            xs = [o["ms"] for o in gates if o["gate"] == g and o["ok"]]
            detail[f"gate.{g}.s"] = (med(xs) / 1e3, "s", len(xs))
        attempted = len(gates)
        layers = {}
        if trace:
            tg, tfull, tfailed = judge(traced)
            failed += tfailed
            attempted += len(tg)
            jobs = result.get("group_jobs", {})
            layers = common_layers(result, tg, len(tg), [o.get("rows", 0) for o in tg],
                                   [o["deliver_ms"] for o in tg if "deliver_ms" in o],
                                   med(ok_ms), med([o["ms"] for o in tg if o["ok"]]))
            for g in cls.GATES + sorted(cls.STEPS):
                mine = [o for o in tg if o["gate"] == g and "build_ms" in o]
                layers[f"gate.{g}.build_s"] = (med([o["build_ms"] for o in mine]) / 1e3, "s")
                layers[f"gate.{g}.s"] = (med([o["ms"] for o in mine]) / 1e3, "s")
                layers[f"gate.{g}.build_jobs"] = (
                    med([jobs.get(f"op-{o['id']}-build", 0) for o in mine]), "count")
                layers[f"gate.{g}.jobs"] = (med([jobs.get(f"op-{o['id']}-build", 0) +
                                                 jobs.get(f"op-{o['id']}-deliver", 0)
                                                 for o in mine]), "count")
            layers["batch_s"] = (med([p["ms"] for p in tfull]) / 1e3, "s")
        return {"attempted": attempted, "failed": failed, "errors": errors, "e2e": e2e,
                "detail": detail, "layers": as_metrics(layers)}


# ----------------------------------------------------------------- federated_sql

F = "graft.datasource.file.tpch"
J = "graft.datasource.jdbc.ops.APP.supp"
USL = "graft.metastore.ordermart"

# (name, kind, graft SQL, DuckDB SQL, output columns, constant domain,
# copies per block of a short template).
# Sums are taken over exact cents (DECIMAL(18,2) or integer cents) so that
# both engines produce the same value whatever the summation order.
SQL_TEMPLATES = [
    ("nation_point", "short",
     f"SELECT n_name, n_regionkey FROM {F}.nation WHERE n_nationkey = {{k}}",
     "SELECT n_name, n_regionkey FROM nation WHERE n_nationkey = {k}",
     ["n_name", "n_regionkey"], ("int", 0, 24), 2),
    ("customer_point", "short",
     f"SELECT c_name, c_acctbal, c_mktsegment FROM {F}.customer WHERE c_custkey = {{k}}",
     "SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {k}",
     ["c_acctbal", "c_mktsegment", "c_name"], ("key", "customer"), 2),
    ("customer_segments", "short",
     f"SELECT c_mktsegment, count(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) "
     f"AS bal FROM {F}.customer WHERE c_nationkey = {{k}} GROUP BY c_mktsegment",
     "SELECT c_mktsegment, count(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) "
     "AS bal FROM customer WHERE c_nationkey = {k} GROUP BY c_mktsegment",
     ["bal", "c_mktsegment", "n"], ("int", 0, 24), 2),
    ("usl_orders_of_customer", "short",
     f"SELECT o_orderstatus, count(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
     f"AS total FROM {USL}.orders WHERE o_custkey = {{k}} GROUP BY o_orderstatus",
     "SELECT o_orderstatus, count(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
     "AS total FROM orders WHERE o_custkey = {k} GROUP BY o_orderstatus",
     ["n", "o_orderstatus", "total"], ("key", "customer"), 1),
    ("usl_customer_join", "short",
     f"SELECT c.c_name, c.c_mktsegment, count(*) AS n FROM {USL}.orders o JOIN {USL}.customer c "
     f"ON o.o_custkey = c.c_custkey WHERE c.c_custkey = {{k}} GROUP BY c.c_name, c.c_mktsegment",
     "SELECT c.c_name, c.c_mktsegment, count(*) AS n FROM orders o JOIN customer c "
     "ON o.o_custkey = c.c_custkey WHERE c.c_custkey = {k} GROUP BY c.c_name, c.c_mktsegment",
     ["c_mktsegment", "c_name", "n"], ("key", "customer"), 1),
    ("jdbc_point", "short",
     f"SELECT s_name, s_nationkey FROM {J} WHERE s_suppkey = {{k}}",
     "SELECT s_name, s_nationkey FROM supplier WHERE s_suppkey = {k}",
     ["s_name", "s_nationkey"], ("key", "supplier"), 2),
    ("jdbc_parquet_join", "short",
     f"SELECT n.n_name, count(*) AS n FROM {J} s JOIN {F}.nation n ON s.s_nationkey = n.n_nationkey "
     f"WHERE n.n_regionkey = {{k}} GROUP BY n.n_name",
     "SELECT n.n_name, count(*) AS n FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey "
     "WHERE n.n_regionkey = {k} GROUP BY n.n_name",
     ["n", "n_name"], ("int", 0, 4), 1),
    ("pricing_summary", "heavy",
     f"SELECT l_returnflag, l_linestatus, count(*) AS n, "
     f"CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty, "
     f"CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price, "
     f"SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS disc FROM {F}.lineitem "
     f"WHERE l_shipdate <= '{{k}}-06-30' GROUP BY l_returnflag, l_linestatus",
     "SELECT l_returnflag, l_linestatus, count(*) AS n, "
     "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty, "
     "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price, "
     "SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS disc FROM lineitem "
     "WHERE l_shipdate <= '{k}-06-30' GROUP BY l_returnflag, l_linestatus",
     ["disc", "l_linestatus", "l_returnflag", "n", "price", "qty"], ("int", 1996, 2001), 1),
    ("shipping_priority", "heavy",
     f"SELECT o.o_orderkey, o.o_orderpriority, SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) "
     f"* (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS rev FROM {F}.customer c "
     f"JOIN {F}.orders o ON c.c_custkey = o.o_custkey JOIN {F}.lineitem l ON l.l_orderkey = o.o_orderkey "
     f"WHERE c.c_mktsegment = '{{k}}' AND o.o_orderdate < '1998-03-15' AND l.l_shipdate > '1998-03-15' "
     f"GROUP BY o.o_orderkey, o.o_orderpriority ORDER BY rev DESC, o.o_orderkey LIMIT 10",
     "SELECT o.o_orderkey, o.o_orderpriority, SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) "
     "* (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS rev FROM customer c "
     "JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
     "WHERE c.c_mktsegment = '{k}' AND o.o_orderdate < '1998-03-15' AND l.l_shipdate > '1998-03-15' "
     "GROUP BY o.o_orderkey, o.o_orderpriority ORDER BY rev DESC, o.o_orderkey LIMIT 10",
     ["o_orderkey", "o_orderpriority", "rev"], ("pick", ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                          "HOUSEHOLD", "MACHINERY"]), 1),
    ("price_percentiles", "heavy",
     f"SELECT o_orderpriority, percentile(o_totalprice, 0.{{k}}) AS p, count(*) AS n "
     f"FROM {F}.orders WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority",
     "SELECT o_orderpriority, quantile_cont(o_totalprice, 0.{k}) AS p, count(*) AS n "
     "FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority",
     ["n", "o_orderpriority", "p"], ("int", 10, 95), 1),
    ("region_revenue", "heavy",
     f"SELECT n.n_name, count(*) AS n, SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS cents "
     f"FROM {F}.lineitem l JOIN {F}.orders o ON l.l_orderkey = o.o_orderkey "
     f"JOIN {F}.customer c ON o.o_custkey = c.c_custkey JOIN {F}.nation n ON c.c_nationkey = n.n_nationkey "
     f"WHERE n.n_regionkey = {{k}} AND o.o_orderdate >= '1997-01-01' AND o.o_orderdate < '1998-01-01' "
     f"GROUP BY n.n_name",
     "SELECT n.n_name, count(*) AS n, SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS cents "
     "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
     "JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey "
     "WHERE n.n_regionkey = {k} AND o.o_orderdate >= '1997-01-01' AND o.o_orderdate < '1998-01-01' "
     "GROUP BY n.n_name",
     ["cents", "n", "n_name"], ("int", 0, 4), 1),
]


class FederatedSql:
    """Two closed-loop reader clients POSTing to an in-process /api/q (mostly
    short statements over the parquet datasource, the USL tables and the
    Derby JDBC source; a share of heavy joins and aggregates over lineitem
    and orders), beside one writer session (see Writer).
    """
    SF = 0.02
    TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem"]
    SETUPS = 3
    CLIENTS = 2
    STREAM = 600        # per client; far more than a run reaches
    SETUP = [
        "REGISTER OR REPLACE PARQUET DATASOURCE tpch OPTIONS (path '${DATA}') "
        "NAMESPACE graft.datasource.file",
        "COMPILE USL ordermart DEPLOY NAMESPACE graft.metastore DDL "
        "create table customer (c_custkey bigint primary key, c_name string, c_mktsegment string); "
        "create table orders (o_orderkey bigint primary key, "
        "o_custkey bigint references customer(c_custkey), o_totalprice double, o_orderstatus string)",
        f"ACTIVATE USL TABLE {USL}.customer AS SELECT c_custkey, c_name, c_mktsegment FROM {F}.customer",
        f"ACTIVATE USL TABLE {USL}.orders AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus "
        f"FROM {F}.orders",
        "REGISTER OR REPLACE JDBC DATASOURCE ops OPTIONS (url 'jdbc:derby:${DIR}/derby/db;create=true', "
        "driver 'org.apache.derby.jdbc.EmbeddedDriver') NAMESPACE graft.datasource.jdbc",
        f"CREATE TABLE {J} (s_suppkey BIGINT, s_name VARCHAR(32), s_nationkey INT, s_acctbal DOUBLE)",
        f"INSERT INTO {J} SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM {F}.supplier",
    ]

    @classmethod
    def n_rows(cls, table):
        return {"customer": int(150_000 * cls.SF), "supplier": max(10, int(10_000 * cls.SF))}[table]

    @classmethod
    def constant(cls, rng, dom):
        if dom[0] == "int":
            return rng.randint(dom[1], dom[2])
        if dom[0] == "pick":
            return rng.choice(dom[1])
        # keys of a table: a fixed pool of 64 keys, so repeated lookups occur
        return random.Random(f"{dom[1]}-{rng.randint(0, 63)}").randrange(cls.n_rows(dom[1]))

    @classmethod
    def plan(cls, seed, data_dir, validate=False):
        rng = random.Random(seed)
        # point lookups and small aggregates come twice per block, so the
        # median falls among them and the slow USL and join statements set
        # the tail
        short = [t for t in SQL_TEMPLATES if t[1] == "short" for _ in range(t[6])]
        heavy = [t for t in SQL_TEMPLATES if t[1] == "heavy"]
        clients, duckq, next_id = [], {}, 0
        # the heavy templates in a seed-drawn rotation, each client starting
        # at another point of it, so that a run's first few heavy statements
        # cover every heavy template
        rotation = rng.sample(heavy, len(heavy))
        for c in range(cls.CLIENTS):
            stream = []
            # blocks of every short template once, in seed order, and a heavy
            # statement in every other block: each run sees the same mix
            # whatever the seed
            for b in itertools.count():
                if len(stream) >= cls.STREAM:
                    break
                block = rng.sample(short, len(short))
                if b % 2 == 0:
                    h = rotation[(b // 2 + c * len(heavy) // cls.CLIENTS) % len(heavy)]
                    block.insert(rng.randrange(len(block) + 1), h)
                for t in block:
                    k = cls.constant(rng, t[5])
                    stream.append({"id": next_id, "kind": t[1], "template": t[0],
                                   "sql": t[2].format(k=k), "cols": t[4]})
                    duckq[next_id] = t[3].format(k=k)
                    next_id += 1
            clients.append(stream)
        warm = [{"id": -1, "kind": t[1], "sql": t[2].format(k=cls.constant(rng, t[5])),
                 "cols": t[4]} for t in SQL_TEMPLATES]
        writer, n_warm = Writer(seed, cls.n_rows("customer")).stream()
        return {"clients": clients, "warmup": warm, "writer": writer, "writer_warmup": n_warm,
                "setup_sql": cls.SETUP + Writer.setup_sql(), "duck": duckq,
                "lake_tables": [{"fqn": f, "dir": d, "cols": LAKE_COLS} for f, d, _ in LAKE_TABLES],
                "stream_digest": digest_of([[o["sql"] for o in c] for c in clients] +
                                           [[o["sql"] for o in writer]])}

    @classmethod
    def check(cls, plan, result, corrupt=0, trace=False):
        con = duck(plan["data"])
        duckq = {int(k): v for k, v in plan["duck"].items()}
        reads = [o for o in result["ops"] if not o.get("writer") and o["kind"] != "phase"]
        writes = sorted((o for o in result["ops"] if o.get("writer")), key=lambda o: o["id"])
        answers = {}
        for o in reads:
            q = duckq[o["id"]]
            if q not in answers:
                answers[q] = canon.query(con, q)[1]
        expected = corrupt_first({o["id"]: answers[duckq[o["id"]]] for o in reads}, corrupt)
        errors = []
        for o in reads:
            o["ok"] = "err" not in o and o.get("digest") == expected[o["id"]]
            if not o["ok"]:
                errors.append(f"statement {o['id']}: {o.get('err') or 'digest mismatch'}")
        wbad, changed = Writer.check(con, plan["writer"], writes)
        for o in writes:
            o["ok"] = o["id"] not in wbad
        errors += list(wbad.values())
        if plan.get("validate"):
            # every statement of the stream, executed or not, must run in DuckDB
            for q in set(duckq.values()) - set(answers):
                try:
                    canon.query(con, q)
                except duckdb.Error as e:
                    errors.append(f"DuckDB rejects {q[:120]}: {e}")
        final_bad = 0
        for t in result["tables"]:
            if canon.query(con, f"SELECT {', '.join(LAKE_COLS)} FROM {shadow(t['fqn'])}")[1] != t["digest"]:
                final_bad += 1
                errors.append(f"final state of {t['fqn']} differs from its DuckDB shadow table")

        untraced, traced = split(result)
        stats = cls.stats([o for o in untraced if not o.get("warm")], plan)
        # every checked operation counts, warm-up included; so does each
        # lake table's final state
        attempted = len(reads) + len(writes) + len(result["tables"])
        failed = sum(1 for o in reads + writes if not o["ok"]) + final_bad
        e2e, detail = stats["e2e"], stats["detail"]
        space = (sum(t["bytes"] for t in result["tables"]) /
                 max(1, sum(t["compact_bytes"] for t in result["tables"])))
        detail["lake_space_amp"] = (space, "ratio", len(result["tables"]))
        detail["model.spec_files"] = (result["spec_files"], "count", 1)
        layers = {}
        if trace:
            tstats = cls.stats(traced, plan)
            tread = [o for o in traced if "inproc_ms" in o and o["ok"]]
            tw = [o for o in traced if o.get("writer") and o["ok"]]
            rows = [o.get("rows", 0) for o in tread]
            layers = common_layers(result, tread + tw, len(tread) + len(tw), rows,
                                   [o["delivery_ms"] for o in tread], e2e["op_ms"][0],
                                   tstats["e2e"]["op_ms"][0])
            wops = plan["writer"]
            ddl = [o for o in tw if wops[o["id"]]["kind"] == "ddl"]
            dq = [o for o in tw if wops[o["id"]]["kind"] == "dq"]
            dml = [o for o in tw if wops[o["id"]]["kind"] in LAKE_KINDS]
            maint = [o for o in tw if wops[o["id"]]["kind"] in MAINT_KINDS]
            lake = dml + maint
            jobs = result.get("job_starts", [])

            def jobs_in(o):
                return sum(1 for j in jobs if o["wall0"] <= j <= o["wall1"])

            def mean(xs):
                return statistics.mean(xs) if xs else 0.0
            row_bytes = (sum(t["compact_bytes"] for t in result["tables"]) /
                         max(1, sum(t["rows"] for t in result["tables"])))
            graft_ops = ddl + dq + maint
            layers.update({
                "api.ttfb_ms": (med([o["ttfb_ms"] for o in tread]), "ms"),
                "api.body_ms": (med([o["body_ms"] for o in tread]), "ms"),
                "api.bytes_per_row": (sum(o["bytes"] for o in tread) / max(1, sum(rows)), "B"),
                "api.overhead_ms": (med([o["ms"] - o["inproc_ms"] for o in tread]), "ms"),
                "inproc.analysis_ms": (med([o["analysis_ms"] for o in tread]), "ms"),
                "model.fs_read_ops_per_stmt": (mean([o["fs_read_ops"] for o in tread]), "count"),
                "model.fs_bytes_read_per_stmt": (mean([o["fs_bytes_read"] for o in tread]), "B"),
                "model.fs_write_ops_per_ddl": (mean([o["fs_write_ops"] for o in ddl]), "count"),
                "model.bytes_written_per_ddl": (mean([o["bytes_written"] for o in ddl]), "B"),
                "model.fs_read_ops_per_ddl": (mean([o["fs_read_ops"] for o in ddl]), "count"),
                "model.spec_files": (result["spec_files"], "count"),
                "parser.parse_ms": (med([o["parse_ms"] for o in graft_ops if "parse_ms" in o]), "ms"),
                "commands.exec_ms": (med([o["ms"] - o.get("parse_ms", 0.0) for o in ddl]), "ms"),
                "commands.dq_run_ms": (med([o["ms"] for o in dq]), "ms"),
                "commands.dq_jobs": (mean([jobs_in(o) for o in dq]), "count"),
                "lake.commit_ms": (med([o["ms"] for o in dml]), "ms"),
                "lake.write_amp": (sum(o["bytes_written"] for o in dml) /
                                   max(1.0, sum(changed.get(o["id"], 0) for o in dml) * row_bytes),
                                   "ratio"),
                "lake.jobs_per_commit": (mean([jobs_in(o) for o in dml]), "count"),
                "lake.log_files_read_per_scan": (mean([o["scan_read_ops"] for o in lake]), "count"),
                "lake.log_bytes_read_per_scan": (mean([o["scan_bytes_read"] for o in lake]), "B"),
                "lake.live_files": (sum(t["live_files"] for t in result["tables"]), "count"),
                "lake.files_on_disk": (sum(t["files"] for t in result["tables"]), "count"),
                "lake.versions": (sum(t["versions"] for t in result["tables"]), "count"),
                "lake.maintenance_ms": (med([o["ms"] for o in maint]), "ms"),
            })
        return {"attempted": attempted, "failed": failed, "errors": errors, "e2e": e2e,
                "detail": detail, "layers": as_metrics(layers)}

    @staticmethod
    def stats(ops, plan):
        # the readers' share of the phase, recorded when they stop
        wall = sum(o["ms"] for o in ops if o["kind"] == "phase") / 1e3
        reads = [o for o in ops if not o.get("writer") and o["kind"] != "phase" and o["ok"]]
        writes = [o for o in ops if o.get("writer") and o["ok"]]
        ms = [o["ms"] for o in reads]

        heavy = [o["ms"] for o in reads if o["kind"] == "heavy"]
        short = [o["ms"] for o in reads if o["kind"] == "short"]
        by = lambda kinds: [o["ms"] for o in writes if o["kind"] in kinds]
        ddl, dq, dml = by(["ddl"]), by(["dq"]), by(LAKE_KINDS)
        scans = [o["scan_ms"] for o in writes if "scan_ms" in o]
        # the short templates, which every run repeats
        template = {o["id"]: o["template"] for c in plan["clients"] for o in c}
        short_ms = kinds_ms((template[o["id"]], o["ms"]) for o in reads if o["kind"] == "short")
        e2e = {"op_ms": (short_ms, "ms"), "ops_per_s": (len(ms) / wall, "1/s"),
               "aux_ms": (med(ddl), "ms")}
        detail = {
            "sql_p50_ms": (med(ms), "ms", len(ms)), "sql_p90_ms": (pct(ms, 90), "ms", len(ms)),
            "sql_p95_ms": (pct(ms, 95), "ms", len(ms)),
            "sql_qps": (len(ms) / wall, "statements/s", len(ms)),
            "sql_short_p50_ms": (med(short), "ms", len(short)),
            "sql_short_kinds_gm_ms": (short_ms, "ms", len(short)),
            "sql_heavy_p50_ms": (med(heavy), "ms", len(heavy)),
            "writer_p50_ms": (med([o["ms"] for o in writes]), "ms", len(writes)),
            "ddl_p50_ms": (med(ddl), "ms", len(ddl)),
            "ddl_p95_ms": (pct(ddl, 95), "ms", len(ddl)),
            "dq_p50_ms": (med(dq), "ms", len(dq)),
            "dml_p50_ms": (med(dml), "ms", len(dml)), "dml_p90_ms": (pct(dml, 90), "ms", len(dml)),
            "scan_p50_ms": (med(scans), "ms", len(scans)), "scan_p90_ms": (pct(scans, 90), "ms", len(scans)),
        }
        return {"e2e": e2e, "detail": detail}


# ------------------------------------------------------------------ writer session

LAKE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
LAKE_TABLES = [  # (fqn, directory, TBLPROPERTIES)
    ("graft.datasource.lake.dl.t_cow", "${DIR}/lake/delta/t_cow", ""),
    ("graft.datasource.lake.dl.t_dv", "${DIR}/lake/delta/t_dv",
     " TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')"),
    ("graft.datasource.lake.il.t_cow", "${DIR}/lake/iceberg/t_cow", ""),
    ("graft.datasource.lake.il.t_mor", "${DIR}/lake/iceberg/t_mor",
     " TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')"),
]
LAKE_KINDS = ["insert", "update", "delete", "merge"]
MAINT_KINDS = ["optimize", "vacuum"]
DQ_EXPRS = ["c_acctbal > {v}", "c_nationkey <> {n}", "c_acctbal < {v} OR c_nationkey = {n}"]
USL_DDL = ("create table cust (c_custkey bigint primary key, c_name string, c_nationkey int, "
           "c_acctbal double); create table ord (o_orderkey bigint primary key, "
           "o_custkey bigint references cust(c_custkey), o_totalprice double)")


def shadow(fqn):
    return "s_" + fqn.replace(".", "_")


def lake_read(table, r):
    return (f"SELECT o_orderstatus, count(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
            f"AS DOUBLE) AS total FROM {table} WHERE o_custkey % 10 = {r} GROUP BY o_orderstatus")


class Writer:
    """The writer session's stream: metastore DDL through graft's dialect
    (a fixed share of it RUN DQ) and small lake commits on two Delta and
    two Iceberg tables, each commit followed by a read of its table, with
    OPTIMIZE and VACUUM every few commits.

    The generator tracks the metastore inventory and each statement's
    expected output; lake statements carry their DuckDB form, replayed on
    shadow tables when checking.
    """
    NS = 6
    ROWS = 5000
    STREAM = 400        # more than a run reaches; the writer stops at its end
    OPTIMIZE_EVERY, VACUUM_EVERY = 8, 20
    # statements of each kind per block; run_dq is the fixed DQ share, and
    # each block carries two lake commits, the kinds taken in turn
    DDL = {"register_ds": 2, "compile": 2, "load": 1, "update": 1, "activate": 2,
           "register_dq": 2, "show": 2, "list_dq": 1, "run_dq": 1}
    LAKE_PER_BLOCK = 2
    STATUSES = ["F", "O", "P"]
    PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

    @classmethod
    def setup_sql(cls):
        out = ["REGISTER OR REPLACE DELTA DATASOURCE dl OPTIONS (path '${DIR}/lake/delta') "
               "NAMESPACE graft.datasource.lake",
               "REGISTER OR REPLACE ICEBERG DATASOURCE il OPTIONS (warehouse '${DIR}/lake/iceberg') "
               "NAMESPACE graft.datasource.lake"]
        for fqn, _, props in LAKE_TABLES:
            out.append(f"CREATE TABLE {fqn} (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
                       f"o_totalprice DOUBLE, o_orderpriority STRING){props}")
            out.append(f"INSERT INTO {fqn} SELECT {', '.join(LAKE_COLS)} FROM {F}.orders "
                       f"WHERE o_orderkey < {cls.ROWS}")
        return out

    def __init__(self, seed, n_cust):
        self.rng = random.Random(seed)
        self.n_cust = n_cust
        self.ds = []            # (j, i): graft.datasource.f{j}.ds{i}
        self.usl = {}           # (j, i) -> {"act": (x, ds) or None, "dqs": [(n, expr)], "note": bool}
        self.names = 0
        self.new_key = 10_000_000
        self.lake_commits = 0
        self.ops = []

    def name(self):
        self.names += 1
        return self.names

    def emit(self, kind, sql, expect=None, read="", duck=None):
        self.ops.append({"id": len(self.ops), "kind": kind, "sql": sql, "read": read,
                         "expect": expect, "duck": duck})

    # -- metastore ------------------------------------------------------------

    def usl_json(self, j, i):
        u = self.usl[(j, i)]
        col = lambda n, t, pk=False, ref=None: dict(
            {"name": n, "dataType": t, "notNull": False, "primaryKey": pk, "unique": False},
            **({"references": {"table": ["metastore", f"m{j}", f"u{i}", "cust"],
                               "columns": ["c_custkey"]}} if ref else {}))
        tbl = lambda n, cols, dqs=(): {"name": n, "columns": cols, "uniques": [], "foreignKeys": [],
                                        "dataQualities": [{"name": a, "expression": b} for a, b in dqs]}
        tables = [tbl("cust", [col("c_custkey", "bigint", True), col("c_name", "string"),
                               col("c_nationkey", "int"), col("c_acctbal", "double")], u["dqs"]),
                  tbl("ord", [col("o_orderkey", "bigint", True), col("o_custkey", "bigint", ref=True),
                              col("o_totalprice", "double")])]
        if u["note"]:
            tables.append(tbl("note", [col("n_id", "bigint", True), col("n_text", "string")]))
        return {"name": f"u{i}", "namespace": ["metastore", f"m{j}"], "tables": tables}

    def ddl_op(self, kind):
        rng = self.rng
        activated = [k for k, u in self.usl.items() if u["act"]]
        if kind in ("activate",) and (not self.usl or not self.ds):
            kind = "register_ds" if not self.ds else "compile"
        if kind in ("load", "update", "list_dq") and not self.usl:
            kind = "compile"
        if kind in ("register_dq", "run_dq") and not activated:
            kind = "activate" if self.usl and self.ds else ("register_ds" if not self.ds else "compile")
        if kind == "register_ds":
            if self.ds and rng.random() < 0.3:
                j, i = rng.choice(self.ds)
            else:
                j, i = rng.randrange(self.NS), self.name()
                self.ds.append((j, i))
            self.emit("ddl", f"REGISTER OR REPLACE PARQUET DATASOURCE ds{i} OPTIONS (path '${{DATA}}') "
                      f"NAMESPACE graft.datasource.f{j}", ["suffix", f"/datasource/f{j}/ds{i}_fs.json"])
        elif kind == "compile":
            j, i = rng.randrange(self.NS), self.name()
            self.usl[(j, i)] = {"act": None, "dqs": [], "note": False}
            self.emit("ddl", f"COMPILE USL u{i} DEPLOY NAMESPACE graft.metastore.m{j} DDL {USL_DDL}",
                      ["usl", f"u{i}", ["cust", "ord"], []])
        elif kind == "load":
            j, i = rng.choice(sorted(self.usl))
            u = self.usl[(j, i)]
            self.emit("ddl", f"LOAD USL u{i} NAMESPACE graft.metastore.m{j}",
                      ["usl", f"u{i}", ["cust", "ord"] + (["note"] if u["note"] else []),
                       [n for n, _ in u["dqs"]]])
        elif kind == "update":
            j, i = rng.choice(sorted(self.usl))
            self.usl[(j, i)]["note"] = not self.usl[(j, i)]["note"]
            self.emit("ddl", f"UPDATE USL u{i} NAMESPACE graft.metastore.m{j} AS "
                      + json.dumps(self.usl_json(j, i)), ["exact", [f"metastore.m{j}.u{i} updated"]])
        elif kind == "activate":
            j, i = rng.choice(sorted(self.usl))
            a, b = rng.choice(self.ds)
            x = rng.randint(1, 24)
            self.usl[(j, i)]["act"] = x
            self.emit("ddl", f"ACTIVATE USL TABLE graft.metastore.m{j}.u{i}.cust AS SELECT c_custkey, "
                      f"c_name, c_nationkey, c_acctbal FROM graft.datasource.f{a}.ds{b}.customer "
                      f"WHERE c_nationkey < {x}", ["exact", [f"metastore.m{j}.u{i}.cust activated"]])
        elif kind == "register_dq":
            j, i = rng.choice(sorted(activated))
            u = self.usl[(j, i)]
            n = rng.choice(u["dqs"])[0] if u["dqs"] and rng.random() < 0.3 else f"dq{self.name()}"
            expr = rng.choice(DQ_EXPRS).format(v=rng.randint(-500, 9000), n=rng.randrange(25))
            u["dqs"] = [d for d in u["dqs"] if d[0] != n] + [(n, expr)]
            self.emit("ddl", f"REGISTER DQ {n} TABLE graft.metastore.m{j}.u{i}.cust AS {expr}",
                      ["exact", [f"DQ {n} registered on graft.metastore.m{j}.u{i}.cust"]])
        elif kind == "show":
            ms = sorted({j for j, _ in self.usl})
            target = rng.choice(["metastore", "datasource"] + (["m"] if ms else []))
            if target == "metastore":
                rows = [("usl", "ordermart")] + [("namespace", f"m{j}") for j in ms]
                ns = "graft.metastore"
            elif target == "datasource":
                fs = sorted({j for j, _ in self.ds})
                rows = [("namespace", n) for n in ["file", "jdbc", "lake"] + [f"f{j}" for j in fs]]
                ns = "graft.datasource"
            else:
                j = rng.choice(ms)
                rows = [("usl", f"u{i}") for jj, i in self.usl if jj == j]
                ns = f"graft.metastore.m{j}"
            self.emit("ddl", f"SHOW NAMESPACES OR TABLES IN {ns}",
                      ["exact", sorted(f"{k}\t{n}" for k, n in rows)])
        elif kind == "list_dq":
            j, i = rng.choice(sorted(self.usl))
            u = self.usl[(j, i)]
            rows = [("c_custkey", "c_custkey", "cust", "PK"), ("o_orderkey", "o_orderkey", "ord", "PK"),
                    (f"o_custkey -> metastore.m{j}.u{i}.cust(c_custkey)", "o_custkey", "ord", "FK")]
            rows += [(e, n, "cust", "DQ") for n, e in u["dqs"]]
            if u["note"]:
                rows.append(("n_id", "n_id", "note", "PK"))
            self.emit("ddl", f"LIST DQ USL graft.metastore.m{j}.u{i}",
                      ["exact", sorted("\t".join(r) for r in rows)])
        elif kind == "run_dq":
            j, i = rng.choice(sorted(activated))
            u = self.usl[(j, i)]
            self.emit("dq", f"RUN DQ TABLE graft.metastore.m{j}.u{i}.cust",
                      ["dq", f"metastore.m{j}.u{i}.cust", u["act"], list(u["dqs"])])

    # -- lake -----------------------------------------------------------------

    def price(self):
        return f"{self.rng.randint(100000, 50000000) / 100:.2f}"

    def fresh(self):
        self.new_key += 1
        return self.new_key

    def row(self, k):
        rng = self.rng
        return (f"({k}, {rng.randrange(self.n_cust)}, '{rng.choice(self.STATUSES)}', {self.price()}, "
                f"'{rng.choice(self.PRIOS)}')")

    def lake_op(self, kind, fqn):
        rng, sh = self.rng, shadow(fqn)
        c, st = rng.randrange(self.n_cust), rng.choice(self.STATUSES)
        if kind == "insert":
            vals = ", ".join(self.row(self.fresh()) for _ in range(rng.randint(1, 3)))
            sql, dq = f"INSERT INTO {fqn} VALUES {vals}", [f"INSERT INTO {sh} VALUES {vals}"]
        elif kind == "update":
            d = f"{rng.randint(-500, 500) / 100:.2f}"
            sets = f"o_totalprice = o_totalprice + CAST({d} AS DOUBLE), o_orderstatus = '{st}'"
            sql = f"UPDATE {fqn} SET {sets} WHERE o_custkey = {c}"
            dq = [f"UPDATE {sh} SET {sets} WHERE o_custkey = {c}"]
        elif kind == "delete":
            cond = f"o_custkey = {c} AND o_orderstatus = '{st}'"
            sql, dq = f"DELETE FROM {fqn} WHERE {cond}", [f"DELETE FROM {sh} WHERE {cond}"]
        elif kind == "merge":
            keys = rng.sample(range(self.ROWS), 2) + [self.fresh()]
            src = f"(VALUES {', '.join(self.row(k) for k in keys)}) AS s(k, c, st, p, pr)"
            sql = (f"MERGE INTO {fqn} t USING (SELECT * FROM {src}) s ON t.o_orderkey = s.k "
                   f"WHEN MATCHED THEN UPDATE SET o_totalprice = s.p, o_orderstatus = s.st "
                   f"WHEN NOT MATCHED THEN INSERT ({', '.join(LAKE_COLS)}) "
                   f"VALUES (s.k, s.c, s.st, s.p, s.pr)")
            dq = [f"UPDATE {sh} SET o_totalprice = s.p, o_orderstatus = s.st FROM {src} "
                  f"WHERE {sh}.o_orderkey = s.k",
                  f"INSERT INTO {sh} SELECT k, c, st, p, pr FROM {src} "
                  f"WHERE k NOT IN (SELECT o_orderkey FROM {sh})"]
        else:
            sql, dq = f"{kind.upper()} LAKE TABLE {fqn}", []
        r = rng.randrange(10)
        self.emit(kind, sql, read=lake_read(fqn, r),
                  duck={"table": fqn, "dml": dq, "read": lake_read(sh, r)})
        if kind in LAKE_KINDS:
            self.lake_commits += 1
            for every, m in ((self.OPTIMIZE_EVERY, "optimize"), (self.VACUUM_EVERY, "vacuum")):
                if self.lake_commits % every == 0:
                    self.lake_op(m, fqn)

    def stream(self):
        """Warm-up ops first (each statement kind once), then the mix."""
        rng = self.rng
        warm = [("ddl", k) for k in ["register_ds", "compile", "activate", "register_dq", "load",
                                     "update", "show", "list_dq", "run_dq"]]
        warm += [("lake", k) for k in LAKE_KINDS + MAINT_KINDS]
        tables = [t[0] for t in LAKE_TABLES]
        for n, (group, kind) in enumerate(warm):
            if group == "ddl":
                self.ddl_op(kind)
            else:
                self.lake_op(kind, tables[n % len(tables)])
        n_warm = len(self.ops)
        # blocks holding every statement kind in fixed proportions, in seed
        # order, so that each run sees the same mix whatever the seed
        ddl = [("ddl", k) for k, n in self.DDL.items() for _ in range(n)]
        lake = itertools.cycle(LAKE_KINDS)
        while len(self.ops) < self.STREAM:
            block = ddl + [("lake", next(lake)) for _ in range(self.LAKE_PER_BLOCK)]
            for group, kind in rng.sample(block, len(block)):
                if group == "ddl":
                    self.ddl_op(kind)
                else:
                    self.lake_op(kind, rng.choice(tables))
        return self.ops, n_warm

    # -- checking -------------------------------------------------------------

    @classmethod
    def check(cls, con, ops, result):
        """Errors per writer op id; the DuckDB shadow tables replay the lake
        statements in stream order.
        """
        for fqn, _, _ in LAKE_TABLES:
            con.execute(f"CREATE TABLE {shadow(fqn)} AS SELECT {', '.join(LAKE_COLS)} "
                        f"FROM orders WHERE o_orderkey < {cls.ROWS}")
        bad, changed = {}, {}
        for o in result:
            op = ops[o["id"]]
            why = o.get("err") or o.get("scan_err")
            if op["duck"]:
                n = 0
                for stmt in op["duck"]["dml"]:
                    cur = con.execute(stmt)
                    n += cur.fetchone()[0] if cur.description else 0
                changed[o["id"]] = n
                want = canon.query(con, op["duck"]["read"])[1]
                got = o.get("scan_digest")
            else:
                want, got = cls.expected_lines(con, op["expect"]), o.get("out")
            if not why and not cls.matches(want, got):
                why = f"output {got!r:.200} != expected {want!r:.200}"
            if why:
                bad[o["id"]] = f"writer op {o['id']} ({op['kind']}): {why}"
        return bad, changed

    @staticmethod
    def expected_lines(con, exp):
        tag = exp[0]
        if tag != "dq":
            return exp
        _, table, x, dqs = exp
        base = f"(SELECT * FROM customer WHERE c_nationkey < {x})"
        total = con.execute(f"SELECT count(*) FROM {base}").fetchone()[0]
        pk = con.execute(f"SELECT count(*) FROM (SELECT c_custkey FROM {base} GROUP BY c_custkey "
                         f"HAVING count(*) = 1)").fetchone()[0]
        rows = [(total - pk, "c_custkey", table, total, "PK", pk)]
        for n, e in dqs:
            v = con.execute(f"SELECT count(*) FROM {base} WHERE {e}").fetchone()[0]
            rows.append((total - v, n, table, total, "DQ", v))
        return ["exact", sorted("\t".join(str(c) for c in r) for r in rows)]

    @staticmethod
    def matches(want, got):
        if isinstance(want, str):
            return want == got
        tag = want[0]
        if got is None:
            return False
        if tag == "exact":
            return sorted(got, key=lambda s: s.encode()) == sorted(want[1], key=lambda s: s.encode())
        if tag == "suffix":
            return len(got) == 1 and got[0].endswith(want[1])
        if tag == "usl":
            if len(got) != 1:
                return False
            spec = json.loads(got[0].replace("\\\\", "\\"))
            tables = {t["name"]: t for t in spec["tables"]}
            dqs = [d["name"] for d in tables.get("cust", {}).get("dataQualities", [])]
            return spec["name"] == want[1] and sorted(tables) == sorted(want[2]) and dqs == want[3]
        return False


ALL = {"operator_batch": OperatorBatch, "federated_sql": FederatedSql}
