#!/usr/bin/env python3
"""graft benchmark: run one named workload and print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the benchmark with sbt into `.bench_build` (or $CARGO_TARGET_DIR) and
generates the input tables there; later runs reuse both while the
sources are unchanged.

Each run starts a fresh JVM with local[nproc] and the session Bench
builds, runs a cold pass and then warm passes for S seconds (one
client, one operation at a time), checks every output outside the
timed passes, and prints one JSON object as its last line. With
--trace 0 it reports the end-to-end metrics; with --trace 1 it reports
the per-layer metrics from traced passes, their self times and the
tracing overhead. A full result file, with the run's environment, goes
to .bench_build/results/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("graph_iter", "llm_text", "etl_snapshot")
TABLE_SF = 0.01
ETL_SIZE = dict(n_payloads=100, per_payload=500, n_corrupt=8, n_updates=4000)
HEAP = "4g"
SETUP_PROBES = 1
# seconds of warm-up passes (at least one). The pipeline's passes keep
# getting faster for about three passes after the cold one; a registry
# workload's first warm pass is already close to its steady speed.
WARMUP_S = {"graph_iter": 2, "llm_text": 2, "etl_snapshot": 6}
# a run ends within this many seconds after its build
RUN_DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_hash():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for dirpath, dirnames, names in os.walk(base):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties"))
                      or "META-INF" in dirpath]
    h = hashlib.sha256(ROOT.encode())
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(build):
    """Builds with sbt once per source state; returns the runtime classpath.

    sbt compiles into the shared target directories, which a later build
    of other sources overwrites. So the compiled class directories are
    copied under the build directory, named by the source hash, and the
    cached classpath points at the copies: a cached key always runs the
    classes built from its sources."""
    key = source_hash()
    cp_file = os.path.join(build, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), key
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(build, "build.log")
    with open(log, "w") as out:
        r = subprocess.run([sbt, "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or "classes" not in cp or cp.startswith("["):
        fail(f"build failed; see {log}")
    classes = os.path.join(build, f"classes-{key}")
    shutil.rmtree(classes, ignore_errors=True)
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(classes, str(i)))
            entry = os.path.join(classes, str(i))
        entries.append(entry)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp + "\n")
    os.rename(cp_file + ".tmp", cp_file)
    return cp, key


def tables_dir(build):
    """The registry tables, generated once per generator version."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build, "data", f"tables-sf{TABLE_SF}-{key}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.tables(tmp, TABLE_SF)
        os.rename(tmp, d)
    return d


def java_cmd(cp, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no perf-data file in the system temp directory: a run writes only
    # inside its checkout
    return [java, *opens, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.PerfBench", *args]


def run_jvm(cmd, log, deadline):
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    with open(log, "a") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException as e:  # a timeout, or this process being stopped
            proc.kill()
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                fail(f"JVM stopped at the run's deadline; see {log}")
            raise
    if rc != 0:
        fail(f"JVM exited with {rc}; see {log}")


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- checks

def _canon(df):
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(list(v)) if hasattr(v, "__len__")
                              and not isinstance(v, (str, bytes)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got, exp):
    """Column names, row count, then values (floats to a relative 1e-9)."""
    import numpy as np
    got, exp = _canon(got), _canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype.kind in "fiu" and e.dtype.kind in "fiu":
            ok = np.isclose(g.astype(float), e.astype(float), rtol=1e-9, atol=1e-9,
                            equal_nan=True)
        else:
            ok = ((g == e) | (g.isna() & e.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {g.iloc[i]!r} != {e.iloc[i]!r}"
    return None


def fingerprint(df):
    """Hash of the canonical result, floats to 9 significant digits."""
    df = _canon(df)
    h = hashlib.sha256(",".join(df.columns).encode())
    for c in df.columns:
        col = df[c]
        vals = (col.map(lambda v: "nan" if v != v else f"{v:.9g}")
                if col.dtype.kind == "f" else col.astype(str))
        h.update("\x1f".join(vals).encode())
    return h.hexdigest()[:20]


def check_registry(result, tables, workload, record):
    """Oracle compare where the registry has DuckDB SQL, else the
    recorded fingerprint. Returns {op: error} for every mismatch."""
    import duckdb
    import pandas as pd
    check = result["check"]
    errors = dict(check["failed"])
    fp_file = os.path.join(HERE, "fingerprints.json")
    with open(fp_file) as f:
        fps = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for path in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    names = sorted({o["name"] for o in result["passes"][0]["ops"]})
    for name in names:
        if name in errors:
            continue
        try:
            got = pd.read_parquet(os.path.join(check["dir"], name))
            if name in check["oracle_sql"]:
                err = compare_frames(got, con.sql(check["oracle_sql"][name]).df())
            elif record:
                fps.setdefault(workload, {})[name] = fingerprint(got)
                err = None
            else:
                want = fps.get(workload, {}).get(name)
                have = fingerprint(got)
                err = None if want == have else f"fingerprint {have} != recorded {want}"
        except Exception as e:  # a crash in the compare is a mismatch too
            err = f"{type(e).__name__}: {e}"
        if err:
            errors[name] = err
    if record:
        with open(fp_file, "w") as f:
            json.dump(fps, f, indent=1, sort_keys=True)
            f.write("\n")
    return errors, len(names)


def check_etl(result, work, expect):
    """Pipeline invariants on the last pass's outputs."""
    import pyarrow.parquet as pq
    out = os.path.join(work, "etl_out")
    errors = {}
    loaded = pq.read_table(os.path.join(out, "products"))
    if loaded.num_rows != expect["valid_products"]:
        errors["normalize_load"] = f"loaded {loaded.num_rows} != {expect['valid_products']}"
    quarantined = pq.read_table(os.path.join(out, "quarantine")).num_rows
    if quarantined != expect["corrupt_payloads"]:
        errors["quarantine"] = f"quarantined {quarantined} != {expect['corrupt_payloads']}"
    reports = result["passes"][-1]["reports"]
    hit = os.path.join(out, "report_hit.html")
    if not (reports.get("report_hit") and os.path.exists(hit)):
        errors["report_hit"] = "no report for the non-empty threshold"
    else:
        with open(hit) as f:
            rows = f.read().count("<tr>") - 1
        if rows != expect["report_rows"]:
            errors["report_hit"] = f"report rows {rows} != {expect['report_rows']}"
    if reports.get("report_empty") or os.path.exists(os.path.join(out, "report_empty.html")):
        errors["report_empty"] = "a report was written for the empty threshold"
    merged = pq.read_table(os.path.join(out, "products_merged"),
                           columns=["id", "price", "sold_quantity"]).to_pydict()
    if len(merged["id"]) != expect["valid_products"]:
        errors["upsert_load"] = f"upsert rows {len(merged['id'])} != {expect['valid_products']}"
    else:
        upd = expect["updates"]
        applied = sum(1 for i, p, q in zip(merged["id"], merged["price"], merged["sold_quantity"])
                      if i in upd and upd[i] == [p, q])
        if applied != len(upd):
            errors["upsert_load"] = f"updates applied {applied} != {len(upd)}"
    return errors, 5


# --------------------------------------------------------------- metrics

def op_counts(result):
    """Per traced pass and op: the counts of its build and action groups."""
    groups = result["groups"]
    out = {}
    for p in result["passes"]:
        if not p["traced"]:
            continue
        for o in p["ops"]:
            b = groups.get(o["group"] + "/build", {})
            a = groups.get(o["group"] + "/action", {})
            row = {k: b.get(k, 0) + a.get(k, 0) for k in set(b) | set(a)}
            row["build_jobs"] = b.get("jobs", 0)
            row["catalyst_s"] = a.get("catalyst_s", 0.0)
            row["plan_chars"] = a.get("plan_chars", 0)
            row["plan_rewrites"] = a.get("plan_rewrites", 0)
            out.setdefault(p["index"], {})[o["name"]] = row
    return out


def measured(result):
    return [p for p in result["passes"] if p["phase"] == "measured"]


def end_to_end(result, setups, failed_frac):
    """End-to-end metrics, and how op_tail_s was taken."""
    warm = measured(result)
    lat = [o["latency_s"] for p in warm for o in p["ops"] if o["ok"]]
    tail, pct, n = stats.tail(lat)
    return {
        "pass_s": (stats.median([p["wall_s"] for p in warm]), "s"),
        "cold_pass_s": (result["passes"][0]["wall_s"], "s"),
        "op_p50_s": (stats.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "failed_frac": (failed_frac, "ratio"),
        "storage_held_max_mb": (max(o["storage_held_mb"] for p in result["passes"]
                                    for o in p["ops"]), "MB"),
        "setup_s": (stats.median(setups), "s"),
    }, {"op_tail_percentile": pct, "op_samples": n}


PIPELINE_TIMES = {"normalize_load": "normalize_load_s", "quarantine": "quarantine_s",
                  "report_hit": "report_s", "report_empty": "report_s",
                  "upsert_load": "upsert_load_s"}


def per_layer(result, spans, cores, failed_frac):
    counts = op_counts(result)
    traced = [p for p in measured(result) if p["traced"]]
    plain = [p for p in measured(result) if not p["traced"]]
    selfs = stats.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    pass_of = {}

    def root(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s

    for s in spans:
        r = root(s)
        if r["kind"] == "pass":
            pass_of[s["id"]] = int(r["name"].split()[1])
    rows = []
    for p in traced:
        c = counts[p["index"]]
        tot = lambda k: sum(r.get(k, 0) for r in c.values())  # noqa: E731
        wall = p["wall_s"]
        build = sum(o["build_s"] for o in p["ops"])
        row = {
            "build_s": build, "build_jobs": tot("build_jobs"), "build_share": build / wall,
            "catalyst_s": tot("catalyst_s"), "plan_chars": tot("plan_chars"),
            "plan_rewrites": tot("plan_rewrites"),
            "jobs": tot("jobs"), "stages": tot("stages"), "tasks": tot("tasks"),
            "tasks_per_stage": tot("tasks") / max(1, tot("stages")),
            "uncovered_s": wall - tot("task_run_s") / cores,
            "task_run_s": tot("task_run_s"), "task_cpu_s": tot("task_cpu_s"),
            "gc_s": tot("gc_s"), "core_util": tot("task_run_s") / (cores * wall),
            "shuffle_read_mb": tot("shuffle_read_mb"), "shuffle_write_mb": tot("shuffle_write_mb"),
            "spill_disk_mb": tot("spill_disk_mb"), "spill_mem_mb": tot("spill_mem_mb"),
            "storage_held_mb": p["ops"][-1].get("storage_held_mb", 0.0),
            "storage_held_max_mb": max(o.get("storage_held_mb", 0.0) for o in p["ops"]),
            "persisted_rdds": max(o.get("persisted_rdds", 0) for o in p["ops"]),
            "bytes_written_mb": tot("bytes_written_mb"),
            "rows_loaded": c.get("normalize_load", {}).get("records_written", 0),
        }
        for m in set(PIPELINE_TIMES.values()):
            row[m] = 0.0
        for o in p["ops"]:
            if o["name"] in PIPELINE_TIMES:
                row[PIPELINE_TIMES[o["name"]]] += o["latency_s"]
        for kind in ("pass", "op", "pipeline", "build", "action", "job", "stage"):
            row[f"self_{kind}_s"] = sum(t for i, t in selfs.items()
                                        if by_id[i]["kind"] == kind and pass_of.get(i) == p["index"])
        rows.append(row)
    units = {"build_jobs": "count", "build_share": "ratio", "plan_chars": "chars",
             "plan_rewrites": "count",
             "jobs": "count", "stages": "count", "tasks": "count",
             "tasks_per_stage": "ratio", "core_util": "ratio", "persisted_rdds": "count",
             "rows_loaded": "count"}
    out = {k: (stats.median([r[k] for r in rows]),
               units.get(k, "MB" if k.endswith("_mb") else "s")) for k in rows[0]}
    traced_pass = stats.median([p["wall_s"] for p in traced])
    plain_pass = stats.median([p["wall_s"] for p in plain])
    out["pass_traced_s"] = (traced_pass, "s")
    out["pass_untraced_s"] = (plain_pass, "s")
    out["trace_overhead_s"] = (traced_pass - plain_pass, "s")
    out["failed_frac"] = (failed_frac, "ratio")
    unsteady = stats.unsteady(stats.count_values([counts]))
    out["unsteady_counts"] = (len(unsteady), "count")
    return out, counts, unsteady


# ------------------------------------------------------------------ main

def main():
    launch_load = os.getloadavg()[0]
    # stopping the benchmark stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="record the fingerprints of oracle-less results instead of checking them")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"{ROOT} holds no engine sources (build.sbt, src/main/scala)")

    build = build_dir()
    os.makedirs(build, exist_ok=True)
    cp, src_key = classpath(build)
    tables = tables_dir(build)
    # the JVMs get what is left of the deadline, less time for the check
    deadline = time.time() + RUN_DEADLINE_S - 15
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}"
    work = os.path.join(build, "work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--warmup", str(WARMUP_S[a.workload]),
                "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", tables, "--work", work,
                "--out", os.path.join(work, "result.json")]
        expect = None
        if a.workload == "etl_snapshot":
            expect = gen_data.payloads(os.path.join(work, "etl_in"), a.seed, **ETL_SIZE)
            args += ["--etl", os.path.join(work, "etl_in"),
                     "--threshold", repr(expect["threshold"]),
                     "--empty-threshold", repr(expect["empty_threshold"])]
        setups = []
        for i in range(SETUP_PROBES):
            out = os.path.join(work, f"setup{i}.json")
            run_jvm(java_cmd(cp, work, ["--setup-only", "1", "--out", out]), log, deadline)
            with open(out) as f:
                setups.append(json.load(f)["setup_s"])
        run_jvm(java_cmd(cp, work, args), log, deadline)
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(work, "result.json.spans.jsonl")) as f:
            spans = [json.loads(x) for x in f if x.strip()]
        setups.append(result["setup_s"])

        if expect is None:
            errors, checked = check_registry(result, tables, a.workload, a.record_fingerprints)
        else:
            errors, checked = check_etl(result, work, expect)
        timed_fail = {f"{o['name']}@pass{p['index']}": o["error"]
                      for p in result["passes"] for o in p["ops"] if not o["ok"]}
        errors.update(timed_fail)
        attempted = sum(len(p["ops"]) for p in result["passes"]) + checked
        failed = len(errors)

        cores = result["cores"]
        if a.trace:
            metrics, counts, unsteady = per_layer(result, spans, cores, failed / attempted)
            extra = {"op_counts": counts, "unsteady": [list(k) for k in unsteady]}
        else:
            metrics, extra = end_to_end(result, setups, failed / attempted)
        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "run_seconds": a.seconds, "git_commit": git_commit(), "source_hash": src_key,
            "nproc": cores, "heap_max_mb": result["heap_max_mb"],
            "spark_version": result["spark_version"], "java_version": result["java_version"],
            "confs": result["confs"], "load_1m_at_launch": launch_load,
            "table_sf": TABLE_SF, "etl_size": ETL_SIZE if expect else None,
            "setup_samples_s": setups, "errors": errors,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "passes": [{"index": p["index"], "phase": p["phase"], "traced": p["traced"],
                        "wall_s": p["wall_s"],
                        "ops": [{k: o[k] for k in ("name", "ok", "latency_s", "build_s")}
                                for o in p["ops"]]} for p in result["passes"]],
            **extra,
        }
        results = os.path.join(build, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, run_id + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        with open(os.path.join(results, run_id + ".spans.jsonl"), "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, err in sorted(errors.items()):
        print(f"MISMATCH {name}: {err}")
    for k, m in record["metrics"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    if not a.trace:
        print(f"op_tail_s is the p{extra['op_tail_percentile']:.1f} latency of "
              f"{extra['op_samples']} timed operations")
    listed = spec["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: record["metrics"][m["name"]] for m in listed}}))


if __name__ == "__main__":
    main()
