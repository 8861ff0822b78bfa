#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one workload, one seed, one run.

    python3 layerbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the repository root. It
  1. builds the engine and the harness from source (sbt, offline) unless the
     sources are unchanged since the last build in this checkout;
  2. generates the workload's inputs from the seed (gen.py) under
     layerbench/.work;
  3. runs the harness JVM (layerbench.Main): repeated set-up, a check pass,
     then timed passes for S seconds;
  4. checks every step's check-pass output against its DuckDB oracle, and
     every timed pass against the check pass's fingerprint;
  5. prints one JSON line: the end-to-end metrics (--trace 0) or the
     per-layer metrics (--trace 1).
The full record of the run is kept under layerbench/.work/records/ for
compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Fewest timed passes per workload. llm_corpus passes are short (about 7 s on
# 4 cores), so it takes the median of three; etl_ingest passes take about 15 s.
WORKLOADS = {"etl_ingest": 2, "llm_corpus": 3}
SETUPS = 5
RUN_BUDGET_S = 160  # harness JVM limit, counted from the end of the build
BUILD_BUDGET_S = 700
MODULES = ["ingest", "core", "functions", "dedup", "sim", "text", "ops",
           "streaming", "multimodal", "pipeline"]
KERNELS = ["cosine_sim", "dot_product", "jaro_winkler_micro", "bpe_tokens",
           "nfc_normalize", "cut_token_runs", "bloom_might_contain", "wkb_rings"]
ENGINE_LAYERS = ["plan.ms", "driver.jobs", "driver.stages", "driver.tasks",
                 "driver.job_busy_s", "microbatch.batches",
                 "microbatch.trigger_ms", "microbatch.wal_ms", "exec.task_s",
                 "exec.cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
                 "exec.shuffle_read_mb", "exec.spill_mb", "exec.records_in",
                 "exec.output_mb"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None. Steal is
    time the hypervisor ran something else while the virtual CPUs were
    runnable: the main source of run-to-run spread on a shared host."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group and
    wait for it. Returns (exit code, captured stdout or None); exit code None
    means the time ran out."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None


# ---- build ------------------------------------------------------------------

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("layerbench: engine sources not found; run from a "
                         "checkout of the repository")
    h = hashlib.sha256()
    for f in _sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    bdir = os.path.join(HERE, ".build")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(bdir, "build.log"), "w") as lf:
        rc, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_BUDGET_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            text=True)
        lf.write(out or "")
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        raise SystemExit(f"layerbench: build failed (see {bdir}/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ---- oracle check -----------------------------------------------------------

def _rows(tbl):
    cols = sorted(tbl.column_names)
    data = tbl.to_pydict()
    return cols, sorted(tuple(str(data[c][i]) for c in cols)
                        for i in range(tbl.num_rows))


def oracle_check(record, data_dir, out_dir):
    """Compare each step's check-pass output with its oracle in DuckDB.
    Returns {step: "match" | "none" | "<reason>"}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    verdict = {}
    for s in record["steps"]:
        name, sql = s["name"], s["oracle"]
        if s["fingerprint"] is None:
            verdict[name] = "step failed in the check pass"
            continue
        if sql is None:
            verdict[name] = "none"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
                              ).fetch_arrow_table()
            exp = con.execute(sql).fetch_arrow_table()
            gc, gr = _rows(got)
            ec, er = _rows(exp)
            if gc != ec:
                verdict[name] = f"columns {gc} vs {ec}"
            elif len(gr) != len(er):
                verdict[name] = f"rows {len(gr)} vs {len(er)}"
            elif gr != er:
                bad = next(i for i, (a, b) in enumerate(zip(gr, er)) if a != b)
                verdict[name] = f"values differ, first sorted row {gr[bad]} vs {er[bad]}"
            else:
                verdict[name] = "match"
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[name] = f"oracle error: {str(e)[:200]}"
    return verdict


# ---- metrics ----------------------------------------------------------------

def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(record, input_rows, passes):
    walls = [p["wall_s"] for p in passes]
    steps = [s["wall_s"] for p in passes for s in p["steps"]]
    slowest = [max(p["steps"], key=lambda s: s["wall_s"]) for p in passes]
    return {
        "setup_s": {"value": med(record["setup_s"]), "unit": "s"},
        "rows_per_s": {"value": input_rows / med(walls), "unit": "1/s"},
        "step_p50_s": {"value": med(steps), "unit": "s"},
        "step_tail_s": {"value": med([s["wall_s"] for s in slowest]), "unit": "s"},
        "peak_heap_mb": {"value": med([p["peak_heap_mb"] for p in passes]),
                         "unit": "MB"},
    }, {"tail": "slowest step of each pass, median over passes",
        "passes": len(passes), "slowest_steps": [s["name"] for s in slowest],
        "samples": len(steps)}


def kernel_rows(kernel, manifest):
    """Rows a kernel step's expression evaluates, from the input sizes."""
    n = {t: v["rows"] for t, v in manifest["tables"].items()}
    # doc_id and vec_id run 0..n-1: every fourth document, every fifth vector
    docs4 = (n["documents"] + 3) // 4
    vecs5 = (n["embeddings"] + 4) // 5
    return {"cosine_sim": vecs5 * n["embeddings"],
            "dot_product": vecs5 * n["embeddings"],
            "jaro_winkler_micro": docs4 * (docs4 - 1) // 2,
            "nfc_normalize": n["documents"], "bpe_tokens": n["documents"],
            "cut_token_runs": n["documents"], "bloom_might_contain": n["lineitem"],
            "wkb_rings": n["part"]}[kernel]


def per_layer(record, manifest, traced, untraced, failed_frac, leaked):
    input_rows = manifest["rows"]
    cores = record["cores"]
    sums = []
    for p in traced:
        acc = {k: sum(s["layers"][k] for s in p["steps"]) for k in ENGINE_LAYERS}
        wall = p["wall_s"]
        acc["driver.gap_s"] = wall - acc["driver.job_busy_s"]
        busy = acc["driver.job_busy_s"]
        acc["exec.core_util"] = acc["exec.task_s"] / (busy * cores) if busy else 0.0
        longest = max(p["steps"], key=lambda s: s["layers"]["exec.longest_task_s"])
        ly = longest["layers"]
        acc["exec.longest_task_s"] = ly["exec.longest_task_s"]
        acc["exec.straggler_share"] = (ly["exec.longest_task_s"] / ly["exec.longest_task_stage_s"]
                                       if ly["exec.longest_task_stage_s"] else 0.0)
        acc["exec.scan_amp"] = acc["exec.records_in"] / input_rows
        for m in MODULES:
            ms = [s for s in p["steps"] if s["module"] == m]
            acc[f"{m}.calls"] = float(len(ms))
            acc[f"{m}.busy_s"] = sum(s["wall_s"] for s in ms)
            acc[f"{m}.jobs"] = sum(s["layers"]["driver.jobs"] for s in ms)
            acc[f"{m}.task_s"] = sum(s["layers"]["exec.task_s"] for s in ms)
            acc[f"{m}.share"] = acc[f"{m}.busy_s"] / wall if wall else 0.0
        sums.append(acc)
    out = {}
    units = layer_units()
    for k in sorted(sums[0]):
        out[k] = {"value": float(med([a[k] for a in sums])), "unit": units[k]}
    every = traced + untraced
    kernel_steps = {s["kernel"]: s["name"] for s in record["steps"] if s["kernel"]}
    for k in KERNELS:  # zero on workloads without the kernel's step
        w = med([x["wall_s"] for p in every for x in p["steps"]
                 if x["name"] == kernel_steps.get(k)])
        out[f"functions.{k}.rows_per_s"] = {
            "value": kernel_rows(k, manifest) / w if w else 0.0, "unit": "1/s"}
    out["failed_frac"] = {"value": failed_frac, "unit": "ratio"}
    out["leaked_cache"] = {"value": leaked, "unit": "count"}
    tw = med([p["wall_s"] for p in traced])
    uw = med([p["wall_s"] for p in untraced])
    out["trace.overhead_frac"] = {"value": tw / uw - 1.0 if uw else 0.0, "unit": "ratio"}
    return out


def layer_units():
    u = {"plan.ms": "ms", "driver.jobs": "count", "driver.stages": "count",
         "driver.tasks": "count", "driver.job_busy_s": "s", "driver.gap_s": "s",
         "microbatch.batches": "count", "microbatch.trigger_ms": "ms",
         "microbatch.wal_ms": "ms", "exec.task_s": "s", "exec.cpu_s": "s",
         "exec.gc_s": "s", "exec.core_util": "ratio", "exec.longest_task_s": "s",
         "exec.straggler_share": "ratio", "exec.shuffle_write_mb": "MB",
         "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
         "exec.records_in": "count", "exec.scan_amp": "ratio",
         "exec.output_mb": "MB"}
    for m in MODULES:
        u.update({f"{m}.calls": "count", f"{m}.busy_s": "s", f"{m}.jobs": "count",
                  f"{m}.task_s": "s", f"{m}.share": "ratio"})
    return u


def step_table(traced):
    """Per step, the median over traced passes of its wall and layers."""
    names = [s["name"] for s in traced[0]["steps"]]
    table = {}
    for n in names:
        rows = [s for p in traced for s in p["steps"] if s["name"] == n]
        t = {"module": rows[0]["module"], "wall_s": med([r["wall_s"] for r in rows])}
        for k in rows[0]["layers"]:
            t[k] = med([r["layers"][k] for r in rows])
        t["plan_s"] = t["plan.ms"] / 1e3
        t["gap_s"] = t["wall_s"] - t["driver.job_busy_s"]
        table[n] = t
    return table


# ---- run --------------------------------------------------------------------

def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    cp = build()
    t_start = time.time()
    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    manifest = gen.generate(data_dir, a.seed)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    rec_path = os.path.join(work, "record.json")
    spans_path = os.path.join(work, "spans.jsonl")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "layerbench.Main", "--workload", a.workload,
              "--data", data_dir, "--work", work, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--setups", str(SETUPS),
              "--passes", str(WORKLOADS[a.workload]),
              "--out", rec_path, "--spans", spans_path])
    t_launch = time.time()
    budget = RUN_BUDGET_S - (t_launch - t_start)
    cpu0 = cpu_times()
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        rc, _ = run_bounded(cmd, budget, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
    cpu1 = cpu_times()
    if rc is None:
        raise SystemExit("layerbench: harness exceeded its time budget")
    if rc != 0 or not os.path.isfile(rec_path):
        raise SystemExit(f"layerbench: harness exited {rc} (see {work}/jvm.log)")
    with open(rec_path) as f:
        record = json.load(f)

    t_jvm = time.time()
    verdict = oracle_check(record, data_dir, os.path.join(work, "out"))
    log(f"phases: start->jvm {t_launch - t_start:.1f}s, jvm {t_jvm - t_launch:.1f}s, "
        f"oracle {time.time() - t_jvm:.1f}s")
    passes = record["passes"]
    attempted = sum(len(p["steps"]) for p in passes)
    bad_oracle = {n for n, v in verdict.items() if v not in ("match", "none")}
    failed = sum(1 for p in passes for s in p["steps"]
                 if not s["ok"] or s["name"] in bad_oracle)
    leaked = float(med([sum(s["leaked"] for s in p["steps"]) for p in passes]))
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    rows = manifest["rows"]
    e2e, tail_info = end_to_end(record, rows, untraced)
    steal = ((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
             if cpu0 and cpu1 else None)
    full = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "host_steal_frac": steal,
            "input": manifest, "oracle": verdict,
            "attempted": attempted, "failed": failed, "tail": tail_info,
            "end_to_end": e2e, "record": record}
    if a.trace:
        metrics = per_layer(record, manifest, traced, untraced,
                            failed / attempted, leaked)
        full["per_layer"] = metrics
        full["steps_traced"] = step_table(traced)
    else:
        metrics = e2e
    rdir = os.path.join(HERE, ".work", "records")
    os.makedirs(rdir, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(rdir, stem + ".json"), "w") as f:
        json.dump(full, f, indent=1)
    if a.trace:
        shutil.copy(spans_path, os.path.join(rdir, stem + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    for n, v in verdict.items():
        if v not in ("match", "none"):
            log(f"{n}: oracle mismatch: {v}")
    for n, m in record["errors"].items():
        log(f"{n}: {m}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])
