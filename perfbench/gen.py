"""Seeded ODS input generator for the warehouse workloads.

Turns the sf0.1 `events`, `orders`, `lineitem`, `part`, `customer` and
`nation` parquet into the two bus topics of the layered topology:

* `topic_log` - app log JSON lines (page / start / display / action / err
  shapes of `graft.schemas.Schemas.logEvent`), one line per event row;
* `topic_db` - Maxwell CDC envelopes (`Schemas.maxwellEnvelope`): DIM
  bootstrap rows from part / customer / nation (the rows the sampled
  orders reference, and every nation), later DIM updates, and the
  order_info / order_detail / order_detail_activity / order_detail_coupon
  inserts built from orders + lineitem;

plus the static `base_dic` lookup and the `table_process` DIM routing
config. The input is cut into increments (contiguous event-time blocks):
a history block of HISTORY_DAYS days, then one live increment of
LIVE_STEP_MS; each lands as one file per topic. The head of the history
is also written as the warm-up input. The seed drives
every choice: channels and versions per visitor, the order sample (and
with it which customers and parts are hot) and order times, out-of-order
delivery inside an increment, late events (delivered one increment after
their own), dirty lines, and which DIM rows get updated. The same seed
gives byte-identical files.

Basis of the traffic parameters (README, "Inputs"): key skew is the sf0.1
data's own (events per user, orders per customer; nothing is re-keyed);
out-of-order delivery is bounded by 2 s, the bounded out-of-orderness the
reference declares for its sources and the program's watermark default
(SURVEY.md section 2.9), so it never puts an event behind a watermark.
Late, dirty and updated lines have no measured rate in the repository or
in sf0.1 (its events arrive in time order and every row is well formed):
they are injected faults that put the drop, dead-letter and upsert paths
under check, at shares that change the line count by about 1% or less.

Usage: python3 perfbench/gen.py <sf_dir> <out_dir> <seed>
"""
import json
import os
import random
import sys
from decimal import Decimal

import duckdb

DAY_MS = 86_400_000
# A late event is at least this far behind the newest event of the
# increments delivered before it, far beyond any watermark delay of the
# topology, so every stateful layer drops it.
LATE_MARGIN_MS = 3_600_000
JITTER_MS = 2_000            # out-of-order spread inside an increment
LATE_SHARE = 0.01
DIRTY_LOG_SHARE = 0.005
DIRTY_DB_SHARE = 0.002
DIM_UPDATE_SHARE = 0.02
ORDERS_PER_DAY = 60
HISTORY_DAYS = 2
LIVE_STEP_MS = DAY_MS // 4
# the warm-up drains the lines of the first 1/WARM_SHARE of the history's
# time span (which holds every DIM bootstrap row and the first orders)
WARM_SHARE = 16

CHANNELS = ["xiaomi", "huawei", "oppo", "vivo", "appstore", "web"]
VERSIONS = ["v2.1.134", "v2.1.132", "v2.0.1"]
SOURCE_TYPES = ["2401", "2402", "2403", "2404"]
DIC = {"2401": "user query", "2402": "promotion", "2403": "smart pick",
       "2404": "activity"}
PAGE_OF = {"view": "good_detail", "click": "good_list", "purchase": "order",
           "error": "home"}

TABLE_PROCESS = [
    {"source_table": "sku_info", "sink_table": "dim_sku_info",
     "sink_columns": "id,sku_name,price,tm_id,category3_id", "sink_pk": "id"},
    {"source_table": "user_info", "sink_table": "dim_user_info",
     "sink_columns": "id,name,province_id,segment", "sink_pk": "id"},
    {"source_table": "base_province", "sink_table": "dim_base_province",
     "sink_columns": "id,name,region_id", "sink_pk": "id"},
]


def plan_increments(t0):
    """Increment boundaries [start, end) in epoch ms from the first day t0:
    the history block of HISTORY_DAYS days (the backfill), then one live
    increment of LIVE_STEP_MS."""
    end = t0 + HISTORY_DAYS * DAY_MS
    return [(t0, end), (end, end + LIVE_STEP_MS)]


def dumps(obj):
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


def money(x):
    return str(Decimal(x).quantize(Decimal("0.01")))


def load(sf_dir):
    con = duckdb.connect()

    def q(sql):
        return con.execute(sql).fetchall()

    events = q(f"""SELECT event_id, epoch_ms(ts), user_id, event_type, value
                   FROM '{sf_dir}/events.parquet' ORDER BY ts, event_id""")
    orders = q(f"""SELECT o_orderkey, o_custkey, o_totalprice
                   FROM '{sf_dir}/orders.parquet'
                   WHERE o_orderkey IN (SELECT l_orderkey
                                        FROM '{sf_dir}/lineitem.parquet')
                   ORDER BY o_orderkey""")
    parts = q(f"""SELECT p_partkey, p_name, CAST(p_retailprice AS VARCHAR),
                         p_brand, p_type
                  FROM '{sf_dir}/part.parquet' ORDER BY p_partkey""")
    customers = q(f"""SELECT c_custkey, c_name, c_nationkey, c_mktsegment
                      FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey""")
    nations = q(f"""SELECT n_nationkey, n_name, n_regionkey
                    FROM '{sf_dir}/nation.parquet' ORDER BY n_nationkey""")

    def lines(keys):
        con.execute("CREATE OR REPLACE TEMP TABLE k (o BIGINT)")
        con.executemany("INSERT INTO k VALUES (?)", [[x] for x in keys])
        return q(f"""SELECT l_orderkey, l_linenumber, l_partkey,
                            CAST(l_quantity AS BIGINT),
                            CAST(l_extendedprice AS VARCHAR),
                            CAST(l_discount AS VARCHAR)
                     FROM '{sf_dir}/lineitem.parquet' JOIN k ON l_orderkey = o
                     ORDER BY l_orderkey, l_linenumber""")
    return events, orders, lines, parts, customers, nations


def log_lines(rng, events):
    """(ts_ms, line, is_page) per event row."""
    users = sorted({e[2] for e in events})
    profile = {u: (rng.choice(CHANNELS), rng.choice(VERSIONS),
                   str(110000 + rng.randrange(34) * 10000)) for u in users}
    seen = set()
    last_page = {}
    out = []
    for event_id, ts, user, etype, value in events:
        mid = f"mid_{user}"
        ch, vc, ar = profile[user]
        common = {"ar": ar, "ch": ch, "is_new": "0" if mid in seen else "1",
                  "md": "m1", "mid": mid, "os": "android", "uid": str(user),
                  "vc": vc}
        seen.add(mid)
        rec = {"common": common, "ts": ts}
        if etype == "signup":
            rec["start"] = {"entry": "icon", "loading_time": 1000 + event_id % 500,
                            "open_ad_id": event_id % 20, "open_ad_ms": 5000,
                            "open_ad_skip_ms": 0}
            out.append((ts, dumps(rec), False))
            continue
        prev = last_page.get(mid)
        entry = prev is None or ts - prev[1] > 1_800_000
        page = {"during_time": int(value * 100), "page_id": PAGE_OF[etype],
                "last_page_id": None if entry else prev[0]}
        if etype == "view":
            page.update(item=str(event_id % 20000 + 1), item_type="sku_id")
        rec["page"] = page
        if etype == "click":
            rec["actions"] = [{"action_id": "cart_add",
                               "item": str(event_id % 20000 + 1),
                               "item_type": "sku_id", "ts": ts - 500}]
        elif etype == "purchase":
            rec["displays"] = [{"display_type": "promotion",
                                "item": str(event_id % 97), "item_type": "sku_id",
                                "order": k + 1, "pos_id": k + 1} for k in range(2)]
        elif etype == "error":
            rec["err"] = {"error_code": 1000 + event_id % 3000,
                          "msg": "Exception in thread main"}
        last_page[mid] = (PAGE_OF[etype], ts)
        out.append((ts, dumps(rec), True))
    return out


def db_envelopes(rng, orders, lines, parts, customers, nations, t0, t1, incs):
    """(ts_ms, envelope) for the trade facts plus DIM updates; `lines`
    fetches the lineitems of the sampled order keys."""
    nation_of = {c[0]: c[2] for c in customers}
    days = (t1 - t0) // DAY_MS
    sample = rng.sample(orders, ORDERS_PER_DAY * days)
    by_order = {}
    for l in lines([o[0] for o in sample]):
        by_order.setdefault(l[0], []).append(l)
    times = sorted(t0 + rng.randrange(t1 - t0) // 1000 * 1000 for _ in sample)
    out = []
    detail_id = 0
    used_parts, used_customers = set(), set()
    for xid, ((okey, cust, total), ts) in enumerate(zip(sample, times)):
        used_customers.add(cust)
        sec = ts // 1000
        env = []

        def add(table, data):
            env.append({"database": "gmall", "table": table, "type": "insert",
                        "ts": sec, "xid": xid, "xoffset": len(env),
                        "data": data})

        add("order_info", {"id": str(okey), "user_id": str(cust),
                           "province_id": str(nation_of[cust]),
                           "order_status": "1001", "total_amount": money(total)})
        for _, ln, part, qty, price, disc in by_order[okey]:
            detail_id += 1
            used_parts.add(part)
            amount = Decimal(price) * (1 - Decimal(disc))
            act = str(rng.randrange(1, 5))
            add("order_detail", {
                "id": str(detail_id), "order_id": str(okey),
                "sku_id": str(part), "sku_num": str(qty),
                "order_price": money(Decimal(price) / max(qty, 1)),
                "split_total_amount": money(amount),
                "split_activity_amount": money(amount * Decimal("0.05")),
                "split_coupon_amount": "0.00",
                "source_type": rng.choice(SOURCE_TYPES)})
            add("order_detail_activity", {"id": str(detail_id),
                                          "order_detail_id": str(detail_id),
                                          "activity_id": act,
                                          "activity_rule_id": act})
            add("order_detail_coupon", {"id": str(detail_id),
                                        "order_detail_id": str(detail_id),
                                        "coupon_id": str(rng.randrange(1, 9))})
        out.extend((ts, dumps(e)) for e in env)
    # DIM: bootstrap the rows the facts reference at the first increment,
    # then seeded updates spread over the later increments.
    boot = incs[0][0] // 1000
    dims = [("sku_info", {"id": str(p[0]), "sku_name": p[1], "price": p[2],
                          "tm_id": p[3], "category3_id": p[4]})
            for p in parts if p[0] in used_parts]
    dims += [("user_info", {"id": str(c[0]), "name": c[1],
                            "province_id": str(c[2]), "segment": c[3]})
             for c in customers if c[0] in used_customers]
    dims += [("base_province", {"id": str(n[0]), "name": n[1],
                                "region_id": str(n[2])}) for n in nations]
    xid = len(sample)
    for i, (table, data) in enumerate(dims):
        out.append((boot * 1000, dumps({
            "database": "gmall", "table": table, "type": "bootstrap-insert",
            "ts": boot, "xid": xid, "xoffset": i, "data": data})))
    updatable = [d for d in dims if d[0] != "base_province"]
    n_upd = int(len(updatable) * DIM_UPDATE_SHARE)
    for k, (table, data) in enumerate(rng.sample(updatable, n_upd)):
        lo, hi = incs[rng.randrange(1, len(incs))] if len(incs) > 1 else incs[0]
        ts = lo + rng.randrange(hi - lo) // 1000 * 1000
        key = "price" if table == "sku_info" else "segment"
        new = dict(data)
        new[key] = (money(Decimal(data[key]) * Decimal("1.1"))
                    if key == "price" else data[key] + "-X")
        out.append((ts, dumps({
            "database": "gmall", "table": table, "type": "update",
            "ts": ts // 1000, "xid": xid + 1 + k, "xoffset": 0, "data": new,
            "old": {key: data[key]}})))
    return out


def bucket(items, incs):
    """Items (ts first, ts-ordered) split into one list per increment."""
    buckets = [[] for _ in incs]
    i = 0
    for it in items:
        while it[0] >= incs[i][1] and i < len(incs) - 1:
            i += 1
        buckets[i].append(it)
    return buckets


def jitter(rng, lines):
    """Out-of-order delivery inside an increment; keeps (ts, line)."""
    keyed = [(ts + rng.randrange(JITTER_MS), n, ts, line)
             for n, (ts, line) in enumerate(lines)]
    return [(ts, line) for _, _, ts, line in sorted(keyed)]


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def generate(sf_dir, out_dir, seed):
    rng = random.Random(seed)
    events, orders, lines, parts, customers, nations = load(sf_dir)
    t0 = events[0][1] // DAY_MS * DAY_MS
    incs = plan_increments(t0)
    t1 = incs[-1][1]
    events = [e for e in events if e[1] < t1]
    logs = bucket(log_lines(rng, events), incs)
    dbs = bucket(sorted(db_envelopes(rng, orders, lines, parts, customers,
                                     nations, t0, t1, incs),
                        key=lambda x: x[0]), incs)
    # late events: moved one increment forward, only if far enough behind
    # the end of their own increment that the watermark has passed them
    late_in = [[] for _ in incs]
    n_late = 0
    for i in range(len(incs) - 1):
        keep = []
        newest = max(ts for ts, _, page in logs[i] if page)
        for item in logs[i]:
            ts, line, page = item
            if page and ts < newest - LATE_MARGIN_MS and rng.random() < LATE_SHARE:
                late_in[i + 1].append((ts, line))
                n_late += 1
            else:
                keep.append(item)
        logs[i] = keep
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "t0": t0, "t1": t1,
                "increments": [], "late_pages": n_late,
                "dirty_log": 0, "dirty_db": 0, "dim_updates": 0}
    warm = {}
    for i, (lo, hi) in enumerate(incs):
        log = jitter(rng, [(ts, line) for ts, line, _ in logs[i]])
        # late lines arrive scattered through the increment's file
        for item in late_in[i]:
            log.insert(rng.randrange(len(log) + 1), item)
        db = jitter(rng, dbs[i])
        dirty_log = dirty_db = 0
        out_log, out_db = [], []
        for ts, line in log:
            out_log.append((ts, line))
            if rng.random() < DIRTY_LOG_SHARE:
                out_log.append((ts, line[: len(line) // 2]))
                dirty_log += 1
        for ts, line in db:
            out_db.append((ts, line))
            if rng.random() < DIRTY_DB_SHARE:
                out_db.append((ts, line[: len(line) // 3]))
                dirty_db += 1
        names = {}
        for topic, rows in (("topic_log", out_log), ("topic_db", out_db)):
            name = f"{topic}-{i:04d}.json"
            write_lines(os.path.join(out_dir, name), (line for _, line in rows))
            names[topic] = name
            if i == 0:
                # warm-up input: the head of the history, drained in set-up
                # into a separate namespace so the timed round starts JIT-
                # and codegen-warm
                warm_end = lo + (hi - lo) // WARM_SHARE
                warm[topic] = f"warm-{topic}.json"
                write_lines(os.path.join(out_dir, warm[topic]),
                            (line for ts, line in rows if ts < warm_end))
        manifest["increments"].append({
            "start_ms": lo, "end_ms": hi, "files": names,
            "log_lines": len(out_log), "db_lines": len(out_db),
            "late_in": len(late_in[i]), "dirty_log": dirty_log,
            "dirty_db": dirty_db})
        manifest["dirty_log"] += dirty_log
        manifest["dirty_db"] += dirty_db
    manifest["warm_files"] = warm
    manifest["dim_updates"] = sum(
        1 for b in dbs for _, e in b if '"type":"update"' in e)
    with open(os.path.join(out_dir, "base_dic.json"), "w") as f:
        f.write("\n".join(dumps({"dic_code": k, "dic_name": v})
                          for k, v in sorted(DIC.items())) + "\n")
    with open(os.path.join(out_dir, "table_process.json"), "w") as f:
        f.write("\n".join(dumps(r) for r in TABLE_PROCESS) + "\n")
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        f.write(dumps(manifest) + "\n")
    return manifest


if __name__ == "__main__":
    m = generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
    print(dumps({k: v for k, v in m.items() if k != "increments"}))
