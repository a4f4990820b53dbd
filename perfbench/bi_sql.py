"""bi_sql: read-only Dremio-dialect SELECTs through ``Lakehouse.run_script``.

Set-up creates the TPC-H-shaped tables as lake tables (lineitem
sort-clustered on l_shipdate), a silver/gold view stack, one AGGREGATE
and one RAW reflection, and turns reflection routing on. The client then
sends rounds of SELECTs: every template once per round, in a seeded
order with seeded parameters. Set-up ends with one unmeasured round.
Each result is checked against DuckDB running the same query over the
same generated parquet files.
"""

from __future__ import annotations

import os
import random
import time

import duckdb
import pyarrow.parquet as pq

import data
from common import Recorder, WriteMeter, closed_loop, dir_files, measure, rows_match

SF = {"full": 0.1, "tiny": 0.001}
NS = "lake.tpch"
TABLES = ("nation", "customer", "supplier", "orders", "lineitem")

VIEWS = {
    "silver_orders": (
        "SELECT o.o_orderkey, o.o_totalprice, YEAR(o.o_orderdate) AS o_year, "
        "c.c_mktsegment, c.c_nationkey FROM {orders} o JOIN {customer} c "
        "ON o.o_custkey = c.c_custkey"
    ),
    "gold_segment_year": (
        "SELECT c_mktsegment, o_year, COUNT(*) AS n, SUM(o_totalprice) AS total "
        "FROM {silver_orders} GROUP BY c_mktsegment, o_year"
    ),
}
REFLECTIONS = (
    f"ALTER DATASET {NS}.lineitem CREATE AGGREGATE REFLECTION li_flags "
    "USING DIMENSIONS (l_returnflag, l_linestatus) "
    "MEASURES (l_quantity (SUM, COUNT), l_extendedprice (SUM, COUNT, MIN, MAX))",
    f"ALTER DATASET {NS}.orders CREATE RAW REFLECTION orders_narrow "
    "USING DISPLAY (o_orderkey, o_totalprice, o_orderdate)",
)


def _month(r: random.Random, span: int = 1) -> tuple[str, str]:
    y, m = r.randint(1992, 1997), r.randint(1, 12)
    m2, y2 = m + span, y
    while m2 > 12:
        m2, y2 = m2 - 12, y2 + 1
    return f"{y}-{m:02d}-01 00:00:00", f"{y2}-{m2:02d}-01 00:00:00"


def _discounts(lo: int) -> dict:
    # a fixed-width band keeps the join's input the same size for every seed
    return {"lo": lo / 100.0, "hi": (lo + 3) / 100.0}


def _templates():
    """name -> (tables read, ordered result?, params(r) -> dict, sql)."""
    return {
        "count_star": (("lineitem",), False, lambda r: {},
                       "SELECT COUNT(*) AS n FROM {lineitem}"),
        "multi_avg": (("lineitem",), False, lambda r: {},
                      "SELECT AVG(l_quantity) AS q, AVG(l_extendedprice) AS p, "
                      "AVG(l_discount) AS d, AVG(l_tax) AS t FROM {lineitem}"),
        "ship_range": (("lineitem",), False,
                       lambda r: dict(zip(("d0", "d1"), _month(r))),
                       "SELECT COUNT(*) AS n, SUM(l_extendedprice * (1 - l_discount)) AS rev "
                       "FROM {lineitem} WHERE l_shipdate >= TIMESTAMP '{d0}' "
                       "AND l_shipdate < TIMESTAMP '{d1}'"),
        "segment_join": (("orders", "customer"), False,
                         lambda r: {"d0": _month(r)[0]},
                         "SELECT c.c_mktsegment, COUNT(*) AS n, SUM(o.o_totalprice) AS total "
                         "FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey "
                         "WHERE o.o_orderdate >= TIMESTAMP '{d0}' GROUP BY c.c_mktsegment"),
        "supplier_nation_join": (("lineitem", "supplier", "nation"), False,
                                 lambda r: _discounts(r.randint(0, 7)),
                                 "SELECT n.n_name, COUNT(*) AS n_lines, "
                                 "SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev "
                                 "FROM {lineitem} l JOIN {supplier} s ON l.l_suppkey = s.s_suppkey "
                                 "JOIN {nation} n ON s.s_nationkey = n.n_nationkey "
                                 "WHERE l.l_discount BETWEEN {lo} AND {hi} GROUP BY n.n_name"),
        "top_order_window": (("orders",), False,
                             lambda r: {"prio": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                          "4-NOT SPECIFIED", "5-LOW"])},
                             "SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM ("
                             "SELECT o_custkey, o_totalprice, ROW_NUMBER() OVER ("
                             "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
                             "FROM {orders} WHERE o_orderpriority = '{prio}') t WHERE rn = 1"),
        "topk_revenue": (("lineitem",), True,
                         lambda r: dict(zip(("d0", "d1"), _month(r, 3))),
                         "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS rev "
                         "FROM {lineitem} WHERE l_shipdate >= TIMESTAMP '{d0}' "
                         "AND l_shipdate < TIMESTAMP '{d1}' GROUP BY l_orderkey "
                         "ORDER BY rev DESC, l_orderkey LIMIT 10"),
        "gold_view": (("orders", "customer"), False,
                      lambda r: {"seg": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                  "HOUSEHOLD", "MACHINERY"])},
                      "SELECT o_year, n, total FROM {gold_segment_year} "
                      "WHERE c_mktsegment = '{seg}'"),
        "flag_rollup": (("lineitem",), False,
                        lambda r: {"st": r.choice(["O", "F"])},
                        "SELECT l_returnflag, SUM(l_quantity) AS q, AVG(l_extendedprice) AS p, "
                        "COUNT(l_extendedprice) AS n FROM {lineitem} "
                        "WHERE l_linestatus = '{st}' GROUP BY l_returnflag"),
        "big_orders": (("orders",), True,
                       lambda r: {"x": r.randint(300_000, 450_000)},
                       "SELECT o_orderkey, o_totalprice FROM {orders} WHERE o_totalprice > {x} "
                       "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"),
    }


def _names(engine: bool) -> dict:
    names = {t: (f"{NS}.{t}" if engine else t) for t in TABLES}
    names.update({v: (f"{NS}.{v}" if engine else v) for v in VIEWS})
    return names


class Oracle:
    """DuckDB over the generated parquet: the independent answer."""

    def __init__(self, input_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
        names = _names(engine=False)
        for v, body in VIEWS.items():
            self.con.execute(f"CREATE VIEW {v} AS " + body.format(**names))
        self.cache: dict[str, list[tuple]] = {}

    def answer(self, sql: str) -> list[tuple]:
        if sql not in self.cache:
            self.cache[sql] = [tuple(r) for r in self.con.execute(sql).fetchall()]
        return self.cache[sql]


def _build(spark, wh: str, input_dir: str):
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, wh)
    lake.run_script(f"CREATE FOLDER IF NOT EXISTS {NS}")
    for t in TABLES:
        lake.create_table_as(f"{NS}.{t}", spark.read.parquet(f"{input_dir}/{t}.parquet"))
    lake.run_script(f"OPTIMIZE TABLE {NS}.lineitem SORT BY (l_shipdate)")
    eng = _names(engine=True)
    lake.run_script(";\n".join(
        f"CREATE VIEW {NS}.{v} AS " + body.format(**eng) for v, body in VIEWS.items()))
    # routing is a property of the lake's script runner
    lake._script_runner.use_reflection_routing = True
    lake.run_script(";\n".join(REFLECTIONS))
    return lake


def run(spark, tr, args, work: str, session_start_s: float, calibrate) -> dict:
    import layers

    rec = Recorder()
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    tables = data.tpch_tables(args.seed, SF[args.scale])
    rows_of = {t: tab.num_rows for t, tab in tables.items()}
    for t, tab in tables.items():
        pq.write_table(tab, f"{input_dir}/{t}.parquet")
    input_bytes = sum(dir_files(input_dir).values())
    oracle = Oracle(input_dir)
    templates = _templates()
    eng = _names(engine=True)
    duck = _names(engine=False)
    rnd = random.Random(args.seed)
    wrong = {"armed": args.plant_wrong_answer}

    wh = os.path.join(work, "wh")
    t = time.perf_counter()
    lake = _build(spark, wh, input_dir)
    build_s = time.perf_counter() - t
    space = sum(dir_files(wh).values())
    write_amp = space / input_bytes  # every byte under a fresh lake was written

    def one_query(name, measured: bool) -> None:
        tables_read, ordered, params, sql = templates[name]
        p = params(rnd)
        q_eng = sql.format(**eng, **p)
        q_duck = sql.format(**duck, **p)
        op = tr.begin_op(f"select.{name}")
        ok, err = True, None
        try:
            t0 = time.perf_counter()
            df = lake.run_script(q_eng)
            t1 = time.perf_counter()
            with tr.span("bench.exec", "bench.exec"):
                got = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
            wall, exec_s = t2 - t0, t2 - t1
        except Exception as e:  # an operation that raises counts as failed
            ok, err, wall = False, f"{name}: {type(e).__name__}: {e}"[:300], None
        tr.end_op(op)
        if not measured:
            return
        rec.attempted += 1
        if ok:
            want = oracle.answer(q_duck)
            if wrong["armed"]:
                wrong["armed"] = False
                want = [tuple(x if not isinstance(x, (int, float)) else x + 1 for x in r)
                        for r in want] or [(0,)]
            ok = rows_match(got, want, ordered)
            err = f"{name}: result differs from oracle for {q_eng}"
            rec.op_latencies.append(wall)
            rec.read_latencies.append(wall)
            rec.busy_s += wall
            rec.rows += sum(rows_of[t] for t in tables_read)
            rec.rows_s += exec_s
        rec.check(ok, err)

    def round_(measured=True):
        names = list(templates)
        rnd.shuffle(names)
        for n in names:
            one_query(n, measured)

    t = time.perf_counter()
    round_(measured=False)  # warm-up: one unmeasured round
    warmup_s = time.perf_counter() - t
    setup_s = session_start_s + build_s + warmup_s
    calibrate("start")

    extra = {"session.start_s": session_start_s, "session.warmup_s": warmup_s}
    report = {"setup": {"session_start_s": session_start_s, "build_s": build_s,
                        "warmup_s": warmup_s},
              "input_bytes": input_bytes, "lake_bytes": space}
    meter = WriteMeter(wh)
    loop_s, trace_extra = measure(args, tr, rec, lambda sec: closed_loop(sec, round_))
    meter.update()
    layer_metrics = None
    if args.trace:
        extra.update(trace_extra)
        extra.update({
            "quality.oracle_match": 1 - len(rec.failures) / max(1, rec.attempted),
            "lakeshim.bytes_written": meter.bytes, "lakeshim.files_written": meter.files,
        })
        n_traced = sum(1 for op in tr.ops if op.name.startswith("select."))
        layer_metrics = layers.per_layer_metrics(tr, n_traced, extra)
        tr.unpatch()
    return {
        "setup_s": setup_s, "op_latencies": rec.op_latencies,
        "read_latencies": rec.read_latencies, "rows": rec.rows, "rows_s": rec.rows_s,
        "loop_s": loop_s,
        "write_amp": write_amp, "space_amp": space / input_bytes,
        "quality": 1 - len(rec.failures) / max(1, rec.attempted),
        "attempted": rec.attempted, "failures": rec.failures, "report": report,
        "busy_s": rec.busy_s, "layer_metrics": layer_metrics,
    }
