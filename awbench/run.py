#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 awbench/run.py --workload warehouse --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) together with the benchmark's harness (awbench/src)
into the build directory ($CARGO_TARGET_DIR, default .bench_build);
later runs reuse it while the sources are unchanged. Each run then

1. generates the workload's inputs from the seed (awbench/gen.py),
2. runs the harness in a fresh JVM (set-up, warm-up, the timed window),
3. checks the outputs against the in-repo DuckDB oracles,
4. prints one artifact line (every measurement, ambient-load evidence,
   the set-up breakdown and the checks) and, last, the result line
   {"correct", "attempted", "failed", "metrics"}: the end-to-end
   metrics, or with --trace 1 the per-layer metrics.

See awbench/README.md for the workloads, metrics and layer map.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

# workload → input shape; sizes are fixed, only the values depend on the seed
WORKLOADS = {
    "warehouse": {"star_sf": 0.01, "docs": 0},
    "curate": {"star_sf": 0.0, "docs": 500},
}
E2E = {"setup_s": "s", "op_ms": "ms", "core_s": "s", "heap_peak_mb": "MB"}
AMBIENT = {"host.steal_s": "s", "host.canary_start_ms": "ms", "host.canary_end_ms": "ms",
           "sched.cpu_run_ratio": "ratio", "jvm.gc_ms": "ms"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170
STAR = ["dim_produto", "dim_cliente", "dim_vendedor", "dim_localidade", "dim_tempo", "fato"]
FACT_COLS = ("id_pedido, numero_linha, sk_produto, sk_cliente, sk_vendedor, sk_localidade, "
             "sk_tempo, qtd_vendida, CAST(valor_bruto AS DOUBLE) AS valor_bruto, "
             "CAST(valor_desconto AS DOUBLE) AS valor_desconto, "
             "CAST(valor_total AS DOUBLE) AS valor_total")


def fail(msg: str) -> None:
    print(f"awbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars() -> list:
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            fail("no Spark found: set SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail(f"no jars under {home}/jars")
    return jars


def build(root: str, out: str, jars: list) -> str:
    """Compile engine + harness with scalac unless the sources are unchanged."""
    srcs = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compilation failed")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def run_harness(cmd: list, env: dict, log: str, limit_s: float) -> str:
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {limit_s:.0f} s")
    if p.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited with {p.returncode}")
    return out.strip().splitlines()[-1]


# ------------------------------------------------------------------ checks

def star_oracle(con, src: str, oracle: dict) -> dict:
    """Views over the source tables, the oracle's star CTEs materialized
    once as tables, and the oracle statements that read them."""
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        p = os.path.join(src, f"{t}.parquet")
        pat = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    cte = oracle["star_cte"]
    for t in STAR:
        con.execute(f"CREATE TABLE {t} AS WITH {cte} SELECT * FROM {t}")
    prefix = f"WITH {cte}\n"
    return {k: v[len(prefix):] if v.startswith(prefix) else v for k, v in oracle.items()}


def same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and \
            not isinstance(a, bool) and not isinstance(b, bool):
        return float(a) == float(b)
    return str(a) == str(b)


def same_answer(cols, rows, want_cols, want_rows) -> bool:
    if sorted(cols) != sorted(want_cols) or len(rows) != len(want_rows):
        return False
    idx = [cols.index(c) for c in want_cols]
    return all(same(r[i], w[j]) for r, w in zip(rows, want_rows) for j, i in enumerate(idx))


def differ(con, a: str, b: str) -> int:
    """Rows in the symmetric difference of two queries (as multisets)."""
    return sum(con.execute(f"SELECT count(*) FROM (({x}) EXCEPT ALL ({y}))").fetchone()[0]
               for x, y in [(a, b), (b, a)])


def check_dw(con, oracle: dict, dw: str) -> list:
    """The DW's fact and dims against the star oracle; returns problems."""
    problems = []
    fact = (f"SELECT {FACT_COLS} FROM read_parquet('{dw}/fato_vendas/*/*.parquet', "
            "hive_partitioning = false)")
    n = differ(con, fact, oracle["q_fact_backfill"])
    if n:
        problems.append(f"fato_vendas: {n} rows differ from the one-shot rebuild")
    for d in STAR[:-1]:
        cols = [r[0] for r in con.execute(f"DESCRIBE {d}").fetchall()]
        n = differ(con, f"SELECT {', '.join(cols)} FROM read_parquet('{dw}/{d}/*.parquet')",
                   f"SELECT * FROM {d}")
        if n:
            problems.append(f"{d}: {n} rows differ")
    return problems


def oracle_answer(con, oracle: dict, name: str):
    """(columns, rows) the oracle gives for `kpi1` or `kpi8_year:<year>`."""
    if name.startswith("kpi8_year:"):
        q = (f"SELECT * FROM ({oracle['kpi8_sazonalidade']}) "
             f"WHERE ano = {int(name.split(':')[1])} ORDER BY ano, mes")
    else:
        q = oracle["kpi1_faturamento_bruto"]
    cur = con.execute(q)
    return [d[0] for d in cur.description], [list(r) for r in cur.fetchall()]


def check(workload: str, res: dict) -> tuple:
    """(failed operations, problems) for one run's outputs."""
    ops, c = res["ops"], res["checks"]
    problems, failed = [], 0
    if workload == "warehouse":
        con = duckdb.connect()
        con.execute("SET threads = 4")
        oracle = star_oracle(con, c["source"], res["oracle"])
        want = con.execute("SELECT count(*) FROM fato").fetchone()[0]
        bad = sum(1 for n in c["fact_rows"] if n != want)
        if bad:
            problems.append(f"{bad} cycle(s) left a fact of the wrong size")
        for name, variants in c["answers"].items():
            wc, wr = oracle_answer(con, oracle, name)
            for v in variants:
                if not same_answer(v["columns"], v["rows"], wc, wr):
                    bad += v["count"]
                    problems.append(f"{name}: {v['count']} wrong answer(s)")
        dw = check_dw(con, oracle, c["dw"])
        return (ops if dw else min(ops, bad)), problems + dw
    # curate: the funnel only shrinks, every run gives the same funnel, and
    # the written corpus is the staged composition's, row for row
    funnels = c["funnels"]
    ref = json.loads(funnels[0]["funnel"]) if funnels else []
    for f in funnels:
        counts = [n for _, n in json.loads(f["funnel"])]
        if f["funnel"] != funnels[0]["funnel"] or counts != sorted(counts, reverse=True) \
                or counts[-1] <= 0:
            failed += f["count"]
            problems.append(f"funnel {f['funnel']} seen {f['count']}x")
    if not ref or c["corpus_rows"] != ref[-1][1] or c["corpus_digest"] != c["staged_digest"] \
            or c["staged_rows"] != c["corpus_rows"]:
        problems.append("written corpus differs from the staged composition")
        failed = ops
    return failed, problems


# ------------------------------------------------------------------ main

def main() -> None:
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True):
        fail("no engine sources under src/main/scala: run from the repository root")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    jars = spark_jars()
    classes = build(root, out, jars)

    t_run = time.time()
    rundir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    data, work = os.path.join(rundir, "data"), os.path.join(rundir, "work")
    for d in [data, os.path.join(work, "tmp"), os.path.join(work, "spark-local")]:
        os.makedirs(d)
    try:
        spec = WORKLOADS[a.workload]
        con = duckdb.connect()
        inputs = {}
        if spec["star_sf"]:
            inputs.update(gen.star(con, data, a.seed, spec["star_sf"]))
        if spec["docs"]:
            inputs.update(gen.documents(con, data, a.seed, spec["docs"]))
        con.close()
        gen_s = time.time() - t_run

        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        # a 1 GB initial heap: at the default (1/64 of RAM, about 250 MB on a
        # 16 GB host) the heap keeps resizing around the 200-300 MB live set;
        # over six seeds of curate on 4 vCPU, heap_peak_mb's quartile spread
        # was 0.19 of its median at the default and 0.06 with -Xms1g
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-XX:-UsePerfData", "-Xms1g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  "-cp", os.pathsep.join([classes] + jars), "graft.awbench.AwBench",
                  a.workload, str(a.seed), str(a.seconds), str(a.trace), data, work])
        limit = RUN_LIMIT_S - (time.time() - t_run)
        res = json.loads(run_harness(cmd, env, os.path.join(rundir, "harness.log"), limit))
        failed, problems = check(a.workload, res)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    if a.trace:
        traces = os.path.join(out, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump(res.get("spans", []), f)
        metrics = {k: dict(v) for k, v in res["layers"].items()}
        metrics.update({k: {"value": res["ambient"].get(k), "unit": u} for k, u in AMBIENT.items()})
    else:
        metrics = {k: {"value": res["e2e"].get(k), "unit": u} for k, u in E2E.items()}
    nulls = sorted(k for k, v in metrics.items() if v["value"] is None)
    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": res["cpus"],
        "inputs": inputs, "input_gen_s": gen_s, "window_s": res["window_s"],
        "ops_ms": res["op_ms"],
        "setup": res["setup"], "per_op": res["per_op"],
        "ambient": {k: {"value": res["ambient"].get(k), "unit": u} for k, u in AMBIENT.items()},
        "e2e": {k: {"value": res["e2e"].get(k), "unit": u} for k, u in E2E.items()},
        "nulls": nulls, "problems": problems, "wall_s": time.time() - t_start}
    print("artifact " + json.dumps(artifact))
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": res["ops"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
