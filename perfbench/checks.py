"""Output checks, run after the timed region against computations made
apart from the program.

* suite: each sampled query's rows (as collected in the last timed pass)
  against DuckDB running the query's `SparkEntry.oracleSql` twin over the
  same parquet; columns sorted by name, rows by value, exact compare.
  A sampled query without a twin has no independent check and fails.
* backfill / live: DuckDB over the ODS files the run landed recomputes the
  late and dirty lines, the daily unique visitors, the 10 s traffic
  windows, the order-detail rows, the latest DIM row per key and the
  province windows, and compares them with what the layers wrote. Plus
  properties: DIM keys unique, uv_ct <= pv_ct, and rows out = rows in -
  dirty - late, with the dirty and late counts the generator recorded.
  live also checks the last dashboard refresh against the DWS tables.

check() returns a list of problems; empty means every check passed.
"""
import glob
import json
import math
import os
import re

import duckdb

SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]
# the traffic layers' watermark delay (Topology.Watermark)
WATERMARK_MS = 2_000
WINDOW_MS = 10_000


def _key(row):
    return tuple((x is None, str(type(x)), "NaN" if isinstance(x, float) and math.isnan(x)
                  else str(x)) for x in row)


def _rows(con, sql):
    rel = con.execute(sql).fetch_arrow_table()
    cols = sorted(rel.column_names)
    d = rel.to_pydict()
    return cols, sorted(_key([d[c][i] for c in cols]) for i in range(rel.num_rows))


def check_suite(res, work, sf_dir):
    con = duckdb.connect()
    for t in SF_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    problems = []
    for name in res["sample"]:
        out = os.path.join(work, "suite", name)
        if not glob.glob(f"{out}/*.parquet"):
            problems.append(f"{name}: no result")
            continue
        if name not in res["oracle"]:
            problems.append(f"{name}: no oracle twin to check against")
            continue
        gcols, got = _rows(con, f"SELECT * FROM '{out}/*.parquet'")
        ecols, exp = _rows(con, res["oracle"][name])
        if gcols != ecols:
            problems.append(f"{name}: columns {gcols} != oracle {ecols}")
        elif got != exp:
            diff = sorted(set(got) ^ set(exp))[:2]
            problems.append(f"{name}: {len(got)} rows vs oracle {len(exp)}, e.g. {diff}")
    return problems


def _lines(con, name, pattern):
    """Table `name`: every line of the landed files with its increment."""
    con.execute(f"""
        CREATE TABLE {name} AS
        SELECT line, json_valid(line) AS ok,
               CAST(regexp_extract(filename, '-(\\d+)\\.json$', 1) AS INTEGER) AS inc
        FROM read_csv('{pattern}', columns={{'line': 'VARCHAR'}}, delim='{chr(1)}',
                      quote='', escape='', header=false, filename=true)""")


def check_pipeline(res, manifest, sf_dir):
    root = res["root"]
    con = duckdb.connect()
    problems = []

    def one(sql):
        return con.execute(sql).fetchone()

    def expect(what, got, exp):
        if got != exp:
            problems.append(f"{what}: got {got}, expected {exp}")

    def same_rows(what, got, exp):
        if not exp:
            problems.append(f"{what}: nothing expected, so nothing is checked")
        elif got != exp:
            diff = sorted(set(got) ^ set(exp))[:3]
            problems.append(f"{what}: {len(got)} rows vs {len(exp)} expected, e.g. {diff}")

    landed = sorted(int(re.search(r"-(\d+)\.json$", f).group(1))
                    for f in os.listdir(f"{root}/ods/topic_log"))
    incs = [manifest["increments"][i] for i in landed]

    # ---- log side: late and dirty lines, recomputed from the landed files
    _lines(con, "log", f"{root}/ods/topic_log/*.json")
    con.execute("""
        CREATE TABLE pages AS
        SELECT inc, j->>'$.common.mid' AS mid, j->>'$.common.vc' AS vc,
               j->>'$.common.ch' AS ch, j->>'$.common.ar' AS ar,
               j->>'$.common.is_new' AS is_new,
               CAST(j->>'$.ts' AS BIGINT) AS ts,
               j->>'$.page.last_page_id' AS last_page_id,
               CAST(j->>'$.page.during_time' AS BIGINT) AS during_time,
               j->>'$.common.md' AS md, j->>'$.common.os' AS os,
               j->>'$.common.uid' AS uid
        FROM (SELECT inc, CAST(line AS JSON) AS j FROM log WHERE ok)
        WHERE json_type(j, '$.page') = 'OBJECT'""")
    # watermark in force while increment i is processed: newest page event
    # of the increments before it, minus the delay
    con.execute(f"""
        CREATE TABLE wm AS
        SELECT i.inc, max(p.ts) - {WATERMARK_MS} AS wm
        FROM (SELECT DISTINCT inc FROM log) i LEFT JOIN pages p ON p.inc < i.inc
        GROUP BY i.inc""")
    con.execute("""
        CREATE TABLE ontime AS
        SELECT p.* FROM pages p JOIN wm USING (inc)
        WHERE wm.wm IS NULL OR p.ts >= wm.wm""")
    n_lines, n_dirty = one("SELECT count(*), count(*) FILTER (WHERE NOT ok) FROM log")
    n_pages, = one("SELECT count(*) FROM pages")
    n_ontime, = one("SELECT count(*) FROM ontime")
    expect("dirty log lines (generator)", n_dirty, sum(i["dirty_log"] for i in incs))
    expect("late page events (generator)", n_pages - n_ontime,
           sum(i["late_in"] for i in incs))
    expect("log lines landed", n_lines, sum(i["log_lines"] for i in incs))

    dwd = f"{root}/dwd"
    expect("dwd page log rows = valid page lines",
           one(f"SELECT count(*) FROM '{dwd}/traffic_page_log/*.parquet'")[0], n_pages)
    expect("dead-letter rows = dirty lines",
           one(f"SELECT count(*) FROM '{dwd}/dirty_log/*.parquet'")[0], n_dirty)

    # ---- daily unique visitors: first on-time page of each mid per UTC day
    con.execute("""
        CREATE TABLE uv AS
        SELECT * FROM (
          SELECT *, row_number() OVER (
              PARTITION BY mid, CAST(epoch_ms(ts) AS DATE)
              ORDER BY ts, ar, ch, is_new, md, mid, os, uid, vc) AS rn
          FROM ontime) WHERE rn = 1""")
    got = con.execute(f"""
        SELECT CAST(epoch_ms(ts) AS DATE) d, count(*) FROM '{dwd}/traffic_uv/*.parquet'
        GROUP BY 1 ORDER BY 1""").fetchall()
    exp = con.execute("""
        SELECT CAST(epoch_ms(ts) AS DATE) d, count(*) FROM uv GROUP BY 1 ORDER BY 1""").fetchall()
    same_rows("daily UV", got, exp)

    # ---- 10 s traffic channel windows closed by the final watermark
    w = int(res["watermark.dws.channel"])
    win = f"ts // {WINDOW_MS} * {WINDOW_MS}"
    exp = con.execute(f"""
        WITH pv AS (
          SELECT {win} AS stt, vc, ch, ar, is_new, count(*) AS pv_ct,
                 count(*) FILTER (WHERE last_page_id IS NULL) AS sv_ct,
                 sum(coalesce(during_time, 0)) AS dur_sum
          FROM ontime GROUP BY ALL),
        u AS (SELECT {win} AS stt, vc, ch, ar, is_new, count(*) AS uv_ct
              FROM uv GROUP BY ALL)
        SELECT stt, vc, ch, ar, is_new, coalesce(uv_ct, 0), sv_ct, pv_ct, dur_sum, 0
        FROM pv LEFT JOIN u USING (stt, vc, ch, ar, is_new)
        WHERE stt + {WINDOW_MS} <= {w} ORDER BY ALL""").fetchall()
    chan = f"read_parquet('{res['root']}/dws/traffic_channel/*/*.parquet', hive_partitioning=true)"
    got = con.execute(f"""
        SELECT epoch_ms(stt), vc, ch, ar, is_new, uv_ct, sv_ct, pv_ct, dur_sum, uj_ct
        FROM {chan} ORDER BY ALL""").fetchall()
    same_rows("traffic windows", got, exp)
    expect("windows with uv_ct > pv_ct",
           one(f"SELECT count(*) FROM {chan} WHERE uv_ct > pv_ct")[0], 0)
    expect("page views out of closed windows = on-time valid pages in them",
           one(f"SELECT sum(pv_ct) FROM {chan}")[0],
           one(f"SELECT count(*) FROM ontime WHERE {win} + {WINDOW_MS} <= {w}")[0])

    # ---- topic_db: envelopes, order detail, DIM, province windows
    _lines(con, "db", f"{root}/ods/topic_db/*.json")
    con.execute("""
        CREATE TABLE env AS
        SELECT j->>'$.table' AS tbl, j->>'$.type' AS typ, CAST(j->>'$.ts' AS BIGINT) AS ts,
               CAST(j->>'$.xid' AS BIGINT) AS xid, CAST(j->>'$.xoffset' AS BIGINT) AS xoffset,
               j->'$.data' AS data
        FROM (SELECT CAST(line AS JSON) AS j FROM db WHERE ok)""")
    n_db_dirty, = one("SELECT count(*) FROM db WHERE NOT ok")
    expect("dirty db lines (generator)", n_db_dirty, sum(i["dirty_db"] for i in incs))
    dic = {"2401": "user query", "2402": "promotion", "2403": "smart pick",
           "2404": "activity"}
    con.execute("CREATE TABLE dic (code VARCHAR, name VARCHAR)")
    con.executemany("INSERT INTO dic VALUES (?, ?)", sorted(dic.items()))
    con.execute("""
        CREATE TABLE detail AS
        SELECT (d.data->>'id') AS detail_id, (d.data->>'order_id') AS order_id,
               (d.data->>'sku_id') AS sku_id, (d.data->>'sku_num') AS sku_num,
               (d.data->>'split_total_amount') AS split_total_amount,
               (i.data->>'user_id') AS user_id, (i.data->>'province_id') AS province_id,
               (a.data->>'activity_id') AS activity_id, (c.data->>'coupon_id') AS coupon_id,
               dic.name AS source_type_name, d.ts
        FROM env d
        JOIN env i ON i.tbl = 'order_info' AND i.typ = 'insert'
             AND (d.data->>'order_id') = (i.data->>'id') AND abs(i.ts - d.ts) <= 60
        LEFT JOIN env a ON a.tbl = 'order_detail_activity' AND a.typ = 'insert'
             AND (a.data->>'order_detail_id') = (d.data->>'id') AND abs(a.ts - d.ts) <= 60
        LEFT JOIN env c ON c.tbl = 'order_detail_coupon' AND c.typ = 'insert'
             AND (c.data->>'order_detail_id') = (d.data->>'id') AND abs(c.ts - d.ts) <= 60
        LEFT JOIN dic ON dic.code = (d.data->>'source_type')
        WHERE d.tbl = 'order_detail' AND d.typ = 'insert'""")
    cols = ("detail_id, order_id, sku_id, sku_num, split_total_amount, user_id, "
            "province_id, activity_id, coupon_id, source_type_name")
    got = con.execute(f"SELECT {cols} FROM '{dwd}/trade_order_detail/*.parquet' "
                      "ORDER BY ALL").fetchall()
    exp = con.execute(f"SELECT {cols} FROM detail ORDER BY ALL").fetchall()
    same_rows("order detail", got, exp)
    expect("order detail amount",
           one(f"SELECT sum(CAST(split_total_amount AS DECIMAL(18,2))) "
               f"FROM '{dwd}/trade_order_detail/*.parquet'")[0],
           one("SELECT sum(CAST(split_total_amount AS DECIMAL(18,2))) FROM detail")[0])

    for rule in (json.loads(l) for l in open(f"{os.path.dirname(root)}/bus/table_process.json")):
        table, pk = rule["sink_table"], rule["sink_pk"]
        cs = rule["sink_columns"].split(",")
        path = f"{root}/dim/{table}/*.parquet"
        got = con.execute(f"SELECT {', '.join(cs)} FROM '{path}' ORDER BY ALL").fetchall()
        exp = con.execute(f"""
            SELECT {', '.join(f"(data->>'{c}')" for c in cs)} FROM (
              SELECT *, row_number() OVER (PARTITION BY (data->>'{pk}')
                  ORDER BY ts DESC, xid DESC, xoffset DESC) AS rn
              FROM env WHERE tbl = '{rule['source_table']}'
                AND typ IN ('insert', 'update', 'bootstrap-insert'))
            WHERE rn = 1 ORDER BY ALL""").fetchall()
        same_rows(f"{table} latest row per key", got, exp)
        expect(f"{table} duplicate keys",
               one(f"SELECT count(*) - count(DISTINCT {pk}) FROM '{path}'")[0], 0)

    w = int(res["watermark.dws.province"])
    prov = (f"read_parquet('{root}/dws/trade_province_order/*/*.parquet', "
            "hive_partitioning=true)")
    got = con.execute(f"""
        SELECT epoch_ms(stt), province_id, province_name, order_count,
               CAST(order_amount AS DECIMAL(18,2)) FROM {prov} ORDER BY ALL""").fetchall()
    exp = con.execute(f"""
        SELECT ts * 1000 // {WINDOW_MS} * {WINDOW_MS} AS stt, province_id,
               n.n_name, count(DISTINCT order_id),
               CAST(sum(CAST(split_total_amount AS DECIMAL(16,2))) AS DECIMAL(18,2))
        FROM detail LEFT JOIN '{sf_dir}/nation.parquet' n
             ON CAST(n.n_nationkey AS VARCHAR) = province_id
        GROUP BY 1, 2, 3 HAVING stt + {WINDOW_MS} <= {w} ORDER BY ALL""").fetchall()
    same_rows("province windows", got, exp)

    if "dashboard_date" in res:
        problems += check_dashboard(con, res, chan, prov)
    return problems


def check_dashboard(con, res, chan, prov):
    """The last refresh against the DWS tables it read."""
    problems = []
    dt = int(res["dashboard_date"])
    got = sorted((r["ch"], r["uv_ct"]) for r in res["dashboard.sugar_channel_uv"])
    exp = sorted(con.execute(f"""
        SELECT ch, CAST(sum(uv_ct) AS BIGINT) u FROM {chan} WHERE dt = {dt}
        GROUP BY ch ORDER BY u DESC, ch LIMIT 10""").fetchall())
    if got != exp:
        problems.append(f"dashboard sugar_channel_uv {got} != {exp}")
    got = sorted((r["province_id"], r["order_count"], round(float(r["order_amount"]), 2))
                 for r in res["dashboard.province_order"])
    exp = sorted((p, int(c), round(float(a), 2)) for p, c, a in con.execute(f"""
        SELECT province_id, sum(order_count), sum(order_amount) FROM {prov}
        WHERE dt = {dt} GROUP BY province_id""").fetchall())
    if got != exp:
        problems.append(f"dashboard province_order {got[:3]} != {exp[:3]}")
    if not exp:
        problems.append(f"dashboard date {dt} has no province rows to check")
    return problems


def check(workload, res, manifest, sf_dir, work):
    try:
        if workload == "suite":
            return check_suite(res, work, sf_dir)
        return check_pipeline(res, manifest, sf_dir)
    except duckdb.Error as e:  # a missing or unreadable output table
        return [f"outputs could not be checked: {e}"]
