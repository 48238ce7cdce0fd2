#!/usr/bin/env python3
"""The repository benchmark: one command per workload that builds the
engine from source, generates seeded inputs, drives the engine for a fixed
number of seconds, checks every output and prints the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_refresh|query_commit_mix \
      --seed N --seconds S --trace 0|1

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ledger. The exit code is 0 only when every
operation succeeded and every check passed. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402
import duckdb  # noqa: E402
import gen_olist  # noqa: E402
import gen_tables  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

WORKLOADS = ("etl_refresh", "query_commit_mix")
OLIST_SCALE = 1      # 1x the reference's row counts
TABLES_SF = 0.002    # query tables: 3,000 orders, ~12,000 line items
SLICERS = 4
JVM_TIMEOUT_S = 150
HEAP = "1g"  # fixed (-Xms = -Xmx), so peak RSS does not follow heap-sizing luck
# write operations: a refresh, a commit; read operations: a slicer, a
# query, a snapshot read
WRITE_OPS = ("refresh", "commit")
READ_OPS = ("slicer", "query", "read")

END_TO_END = [("setup_s", "s"), ("write_s", "s"), ("read_s", "s"),
              ("cycle_p50_s", "s"), ("peak_rss_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)


def tail(values):
    """Highest nearest-rank percentile with at least ten samples above it:
    (value, percentile, n). Below 20 samples that percentile would not
    exceed the median, so the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def typical(measured, kinds):
    """Geometric mean over operation types (a verb, a query, a slicer) of
    each type's median latency. A pooled median of types that differ
    tenfold in cost jumps between them from run to run; this does not."""
    by_type = {}
    for kind, name, secs, ok in measured:
        if kind in kinds and ok:
            by_type.setdefault((kind, name), []).append(secs)
    if not by_type:
        return None
    return math.exp(statistics.mean(math.log(statistics.median(v)) for v in by_type.values()))


def java_cmd(classes, args):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java"] + opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + args[4],
            "-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Driver"] + args)


# ---- inputs -----------------------------------------------------------------

def make_slicers(seed):
    """Seeded Measures.evaluate slicers: each filters on one of the paper's
    slicer dimensions (quarter, months, category, state, price band) and
    groups by one random column, so every seed asks the same amount of
    work. Each is (name, SQL filter valid in Spark and DuckDB, group-by)."""
    rnd = random.Random(seed * 7919 + 1)
    filters = [
        lambda: f"dt_quarter = {rnd.randint(1, 4)}",
        lambda: f"dt_month IN ({', '.join(map(str, sorted(rnd.sample(range(1, 13), 3))))})",
        lambda: "prod_product_category_name_english IN ('{}')".format(
            "', '".join(sorted(rnd.sample(gen_olist.CATEGORIES, 2)))),
        lambda: f"cust_customer_state = '{rnd.choice(gen_olist.CUSTOMER_STATES)}'",
        lambda: "price BETWEEN {0} AND {1}".format(*sorted(rnd.sample(range(10, 1001, 10), 2))),
    ]
    groups = ["dt_year", "dt_quarter", "dt_month", "prod_product_category_name_english",
              "cust_customer_state", "cust_customer_city", "sell_seller_state", "review_score"]
    return [(f"slicer_{i}", rnd.choice(filters)(), [rnd.choice(groups)]) for i in range(SLICERS)]


def generate(workload, seed, inputs):
    if workload == "etl_refresh":
        gen_olist.generate(os.path.join(inputs, "olist"), seed, OLIST_SCALE)
        with open(os.path.join(inputs, "slicers.tsv"), "w") as f:
            for name, flt, grp in make_slicers(seed):
                f.write(f"{name}\t{flt}\t{','.join(grp)}\n")
    else:
        gen_tables.generate(os.path.join(inputs, "tables"), seed, TABLES_SF)


# ---- checks -----------------------------------------------------------------

def oracle_rules():
    """tools/check.py: the engine's oracle tables and comparison rules."""
    spec = importlib.util.spec_from_file_location("oracle_check", os.path.join("tools", "check.py"))
    rules = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rules)
    return rules


def tree_digest(root):
    """Content hash of every output file; part-file names lose their
    per-write unique suffix so two writes of equal content compare equal."""
    out = {}
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            rel = re.sub(r"part-(\d+)-[0-9a-f-]{36}(\.c\d+)?", r"part-\1", os.path.relpath(path, root))
            with open(path, "rb") as f:
                out[rel] = hashlib.sha256(f.read()).hexdigest()
    return out


def check_etl(res, inputs, seed):
    """Every refresh: 14 table row counts and money totals equal DuckDB's
    over the raw CSVs, and the output is byte-identical to the untraced
    set-up refresh. Plus Quality.check on the last refresh."""
    raw = os.path.join(inputs, "olist")
    con = duckdb.connect()
    for t, f in gen_olist.TABLES.items():
        con.execute(f"CREATE VIEW raw_{t} AS SELECT * FROM read_csv('{raw}/{f}', header=true, "
                    "all_varchar=true)")
    con.execute("""CREATE VIEW fact AS
        SELECT i.order_id, i.order_item_id, i.seller_id, i.product_id, o.customer_id,
               strptime(o.order_purchase_timestamp, '%Y-%m-%d %H:%M:%S.%n') AS ts,
               i.price::DOUBLE AS price, i.freight_value::DOUBLE AS freight_value,
               coalesce(r.review_score::BIGINT, 0) AS review_score
        FROM raw_order_items i JOIN raw_orders o USING (order_id)
        LEFT JOIN raw_reviews r USING (order_id)""")
    q = lambda sql: con.execute(sql).fetchone()

    def groups(keys, joins):  # group count of an aggregate table; a null key is a group
        return q(f"SELECT count(*) FROM (SELECT DISTINCT {keys} FROM fact {joins})")[0]

    expected = {
        "dim_customer": q("SELECT count(*) FROM raw_customers")[0],
        "dim_product": q("SELECT count(*) FROM raw_products")[0],
        "dim_seller": q("SELECT count(*) FROM raw_sellers")[0],
        "dim_order": q("SELECT count(*) FROM raw_orders")[0],
        "dim_review": q("SELECT count(*) FROM raw_reviews")[0],
        "dim_date": q("""SELECT (floor((epoch(max(t)) - epoch(min(t))) / 86400) + 1)::BIGINT
            FROM (SELECT strptime(order_purchase_timestamp, '%Y-%m-%d %H:%M:%S.%n') t FROM raw_orders)""")[0],
        "fact_sales": q("SELECT count(*) FROM fact")[0],
        "agg_sales_by_date": groups("year(ts), month(ts)", ""),
        "agg_sales_by_category": groups("t.product_category_name_english", """
            JOIN raw_products p USING (product_id)
            LEFT JOIN raw_category_translation t USING (product_category_name)"""),
        "agg_sales_by_location": groups("c.customer_state", "JOIN raw_customers c USING (customer_id)"),
        "agg_sales_by_city": groups("c.customer_state, c.customer_city",
                                    "JOIN raw_customers c USING (customer_id)"),
        "agg_sales_by_seller": groups("seller_id", "JOIN raw_sellers s USING (seller_id)"),
        "agg_review_metrics": groups("review_score", ""),
    }
    price, freight = q("SELECT sum(price), sum(freight_value) FROM fact")
    truth = json.load(open(os.path.join(raw, "ground_truth.json")))
    items, item_price = q("SELECT count(*), sum(price::DOUBLE) FROM raw_order_items")
    errors = []
    if items != truth["rows"]["order_items"] or abs(item_price - truth["price_sum"]) > 1e-6 * item_price:
        errors.append("generated order items disagree with ground_truth.json")
    reference = tree_digest(res["facts"]["reference_out"])
    for out in res["facts"]["refresh_outs"]:
        if not os.path.isdir(out):
            continue  # a refresh that threw is already counted as failed
        name = os.path.basename(out)
        for table, n in expected.items():
            got = q(f"SELECT count(*) FROM read_parquet('{out}/parquet/{table}/*.parquet')")[0]
            with open(f"{out}/csv/{table}/part-00000-ordered.csv") as f:
                csv_rows = sum(1 for _ in f) - 1
            if got != n or csv_rows != n:
                errors.append(f"{name}: {table} has {got} parquet / {csv_rows} csv rows, DuckDB {n}")
        sp, sf = q(f"SELECT sum(price), sum(freight_value) FROM read_parquet('{out}/parquet/fact_sales/*.parquet')")
        if abs(sp - price) > 1e-9 * abs(price) or abs(sf - freight) > 1e-9 * abs(freight):
            errors.append(f"{name}: fact totals {sp}, {sf}; DuckDB {price}, {freight}")
        digest = tree_digest(out)
        diff = sorted(k for k in set(digest) | set(reference) if digest.get(k) != reference.get(k))
        if diff:
            errors.append(f"{name}: {len(diff)} files differ from the set-up refresh, first {diff[0]}")
    if not res["facts"].get("quality_ok"):
        errors.append(f"Quality.check failed: {res['facts'].get('quality')}")
    star = os.path.join(res["facts"]["reference_out"], "parquet")
    return errors + compare_results(res["facts"]["check_dir"],
                                    slicer_oracles(con, star, make_slicers(seed)), con)


def compare_results(check_dir, oracles, con):
    """Each checked result against its DuckDB SQL, by tools/check.py's
    comparison rules."""
    rules = oracle_rules()
    errors = []
    for name, sql in oracles.items():
        try:
            got = pq.ParquetDataset(glob.glob(os.path.join(check_dir, name, "*.parquet"))).read()
            want = con.execute(sql).arrow()
            errors += [f"{name}: {e}" for e in rules.compare(name, got.to_pandas(), want.to_pandas())]
        except Exception as e:  # a missing result or a failing oracle is a failed check
            errors.append(f"{name}: {e}")
    return errors


def slicer_oracles(con, star, slicers):
    """DuckDB SQL for each slicer: Measures.model's joins and column
    prefixes over the exported star schema, then the five DAX measures."""
    sql = f"CREATE VIEW model AS SELECT * FROM read_parquet('{star}/fact_sales/*.parquet') f"
    for t, p, fk in [("dim_date", "dt", "date_id"), ("dim_customer", "cust", "customer_id"),
                     ("dim_product", "prod", "product_id"), ("dim_seller", "sell", "seller_id"),
                     ("dim_order", "ord", "order_id")]:
        cols = pq.ParquetDataset(glob.glob(f"{star}/{t}/*.parquet")).schema.names
        sel = ", ".join(f'"{c}" AS "{p}_{c}"' for c in cols)
        sql += f" JOIN (SELECT {sel} FROM read_parquet('{star}/{t}/*.parquet')) ON f.{fk} = {p}_id"
    con.execute(sql)
    out = {}
    for name, flt, grp in slicers:
        out[name] = (
            f"SELECT {''.join(g + ', ' for g in grp)}sum(price) AS total_sales, "
            "sum(freight_value) AS total_freight, count(DISTINCT order_id) AS order_count, "
            "sum(price) / nullif(count(DISTINCT order_id), 0)::DOUBLE AS avg_ticket, "
            "sum(freight_value) / nullif(sum(price), 0) * 100.0 AS freight_pct FROM model"
            + (f" WHERE {flt}" if flt else "") + (f" GROUP BY {', '.join(grp)}" if grp else ""))
    return out


def check_query_mix(res, inputs):
    """Each query's checked result equals its SparkEntry.oracleSql in DuckDB."""
    con = duckdb.connect()
    for t in oracle_rules().TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/tables/{t}.parquet')")
    return compare_results(res["facts"]["check_dir"], res["facts"]["oracle_sql"], con)


# ---- metrics ----------------------------------------------------------------

def per_layer_names():
    """Every per-layer metric BENCHMARK.json lists, in its order."""
    with open("BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala") or not os.path.isfile("tools/check.py"):
        log("run from the repository root: the engine's sources are not here")
        return 2

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(build_dir)
    cores = os.cpu_count()
    work = os.path.join(build_dir, f"run-{a.workload}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(inputs)
    try:
        t0 = time.perf_counter()
        generate(a.workload, a.seed, inputs)
        gen_s = time.perf_counter() - t0

        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, inputs, str(cores)]
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(java_cmd(classes, args), stdout=jlog, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        with open(os.path.join(work, "jvm.log"), errors="replace") as jl:
            for line in jl:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        if code != 0:
            log(f"driver exited with {code}; log tail:")
            with open(os.path.join(work, "jvm.log"), errors="replace") as jl:
                sys.stderr.writelines(jl.readlines()[-30:])
            return 1
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        if a.workload == "etl_refresh":
            errors = check_etl(res, inputs, a.seed)
        else:
            errors = check_query_mix(res, inputs)
        for e in errors:
            log(f"check failed: {e}")

        ops = res["ops"]
        measured = ops[res["measured_from"]:]
        failed_ops = [o for o in ops if not o[3]]
        for o in failed_ops:
            log(f"failed operation: {o[0]} {o[1]}")
        attempted = len(ops)
        failed = len(failed_ops) + len(errors)
        writes, reads = typical(measured, WRITE_OPS), typical(measured, READ_OPS)
        if writes is None or reads is None:
            log("no write or no read operation completed in the measured window")
            return 1
        e2e = {"setup_s": gen_s + res["setup_s"], "write_s": writes, "read_s": reads,
               "cycle_p50_s": statistics.median(res["cycles_s"]), "peak_rss_mb": res["peak_rss_mb"]}

        # per-operation figures, each with its sample count
        info = {"failed_frac": failed / max(1, attempted), "nproc": cores,
                "loadavg_1m": os.getloadavg()[0]}
        for kind in WRITE_OPS + READ_OPS:
            xs = [o[2] for o in measured if o[0] == kind and o[3]]
            if xs:
                t, tp, tn = tail(xs)
                label = "snapshot_read" if kind == "read" else kind
                info[f"{label}_p50_s"] = f"{statistics.median(xs):.4f} (of {tn})"
                info[f"{label}_tail_s"] = f"{t:.4f} (p{tp:.1f} of {tn})"
        if a.workload == "query_commit_mix":
            info["write_amp"] = res["facts"]["write_amp"]
            info["space_amp"] = res["facts"]["space_amp"]
        for k, v in info.items():
            print(f"{k} = {v}")

        if a.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(build_dir, f"spans-{a.workload}-{a.seed}.json"))
            layers = dict(res["layers"])
            layers["session.build_s"] = res["session_build_s"]
            layers["session.warmup_s"] = res["warmup_s"]
            layers["input.gen_s"] = gen_s
            for k in ("write_amp", "space_amp"):
                if k in res["facts"]:
                    layers[f"sources.SnapshotTable.{k}"] = res["facts"][k]
            metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                       for name, unit in per_layer_names()}
        else:
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
        for k, v in metrics.items():
            print(f"{k} = {v['value']} {v['unit']}")
        print(json.dumps({"correct": not failed, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if not failed else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
