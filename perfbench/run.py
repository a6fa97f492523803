#!/usr/bin/env python3
"""Converter benchmark: the reference's three export paths, end to end.

Run from the repository root:

    python3 perfbench/run.py --workload csv_dir --seed 1 --seconds 8 --trace 0

Builds the program and the benchmark's JVM side from source with scalac
(into .bench_build/, cached by source hash), then runs the JVM side, which
stages the workload's source from the seed and measures it. Checks every
operation's output against the values computed at staging, and prints one
JSON line: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. Diagnostics go to stderr. See perfbench/NOTES.md.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

JVM_HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    jars = Path(home) / "jars" if home else None
    if not jars or not glob.glob(str(jars / "scala-compiler-*.jar")):
        die("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    compiler = [glob.glob(str(jars / f"{name}-*.jar"))[0]
                for name in ("scala-compiler", "scala-library", "scala-reflect")]
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
           "-d", str(out)] + [str(f) for f in files]
    if subprocess.run(cmd, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        die(f"scalac failed for {out.name}", 1)


def build(root, jars, build_dir):
    """Compile the program (src/main) and then the benchmark's JVM side, each
    cached under a hash of its sources; returns the run classpath."""
    jar_list = sorted(glob.glob(str(jars / "*.jar")))
    prog = sorted(p for p in (root / "src" / "main").rglob("*") if p.is_file())
    bench = sorted((root / "perfbench" / "scala").rglob("*.scala"))
    prog_key = digest(root, prog)
    prog_classes = build_dir / f"program-{prog_key}"
    bench_classes = build_dir / f"bench-{prog_key}-{digest(root, bench)}"
    for out, files, cp in ((prog_classes, [f for f in prog if f.suffix == ".scala"], jar_list),
                           (bench_classes, bench, jar_list + [str(prog_classes)])):
        if (out / "_DONE").exists():
            continue
        for stale in build_dir.glob(out.name.split("-")[0] + "-*"):
            shutil.rmtree(stale, ignore_errors=True)
        log(f"compiling {len(files)} Scala files into {out.relative_to(root)}")
        scalac(jars, cp, out, files)
        resources = root / "src" / "main" / "resources"
        if out == prog_classes and resources.is_dir():
            shutil.copytree(resources, out, dirs_exist_ok=True)
        (out / "_DONE").write_text("ok\n")
    return [str(prog_classes), str(bench_classes), str(jars / "*")]


def java(classpath, work, args, log_path, timeout):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PARALLEL_WORKERS", "CHUNK_SIZE", "GRAFT_RESUME")}
    env["GRAFT_LOG_FILE"] = str(work / "data_to_orc.log")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a fixed heap keeps GC sizing the same from run to run, and
           # touching all of it at start-up makes the peak RSS the heap plus
           # native memory, not however much of the heap G1 happened to touch
           + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
              "-Duser.timezone=UTC",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dderby.stream.error.file={work / 'derby.log'}",
              # the staged database is rebuilt every run; skip its commit fsyncs
              "-Dderby.system.durability=test",
              "-cp", ":".join(classpath), "perfbench.Main"] + args)
    with open(log_path, "w") as logf:
        try:
            proc = subprocess.run(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                  timeout=timeout)
        except subprocess.TimeoutExpired:
            die(f"JVM timed out after {timeout}s; log: {log_path}", 1)
    if proc.returncode != 0:
        tail = Path(log_path).read_text(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(f"JVM exited with {proc.returncode}; log: {log_path}", 1)


def check(op, expected):
    """None when the operation's output matches the staged values, else why not."""
    if op.get("error"):
        return op["error"]
    got = {t["table"]: t for t in op.get("tables", [])}
    if sorted(got) != sorted(expected["requested"]):
        return f"tables {sorted(got)} != requested {sorted(expected['requested'])}"
    for name, t in got.items():
        if name in expected["missing"]:
            if t["success"]:
                return f"{name} does not exist but converted"
        elif not t["success"] or t["rows"] != expected["rows"][name]:
            return f"{name}: success={t['success']} rows={t['rows']} expected {expected['rows'][name]}"
    if op.get("readback") != expected["readback"]:
        return f"read-back mismatch: {op.get('readback')} != {expected['readback']}"
    return None


def end_to_end(res, ok_ops, expected):
    convert = [op["convert_s"] for op in ok_ops]
    rows = sum(t["rows"] for t in ok_ops[0]["tables"] if t["success"]) if ok_ops else 0
    convert_s = metrics.median(convert)
    n = len(convert)
    p = metrics.supported_percentile(n)
    log(f"convert_s: n={n} median={convert_s:.4f}"
        + (f" p{p:g}={metrics.percentile(convert, p):.4f}" if p and p > 50 else
           " (no percentile above the median has 10 samples beyond it)"))
    return {
        "convert_s": convert_s,
        "rows_per_s": rows / convert_s if convert_s else 0.0,
        "readback_s": metrics.median([op["readback_s"] for op in ok_ops]),
        "orc_bytes_per_row": metrics.median([op["orc_bytes"] for op in ok_ops]) / rows if rows else 0.0,
        "tables_ok_ratio": metrics.median(
            [sum(t["success"] for t in op["tables"]) / len(op["tables"]) for op in ok_ops]),
        "setup_s": metrics.median(res["setup_s"]),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }


def per_layer(res, expected, workload):
    """Per-layer metrics of each traced iteration, medians over iterations."""
    trace = res["trace"]
    spans, jobs = trace["spans"], trace["jobs"]
    owner = metrics.attribute_jobs(spans, jobs)
    self_ms = metrics.self_times_ms(spans)
    source_bytes = expected["source_bytes"]
    source_rows = sum(expected["rows"].values())
    per_iter = []
    for it in trace["iterations"]:
        tree = metrics.subtree(spans, it["root"])
        root = tree[0]

        def named(name):
            return [s for s in tree if s["name"] == name]

        def dur_s(name):
            return sum(s["end_ms"] - s["start_ms"] for s in named(name)) / 1000.0

        def jobs_under(span):
            ids = {s["id"] for s in metrics.subtree(spans, span["id"])}
            return [j for j in jobs if owner.get(j["id"]) in ids]

        convert = named("convert")[0]
        cjobs = jobs_under(convert)

        def total(key, js=cjobs):
            return sum(j[key] for j in js)

        tables = convert["attrs"].get("tables", [])
        attempts = sum(t["attempts"] for t in tables)
        table_s = [s["end_ms"] - s["start_ms"] for s in named("table")]
        csv = workload == "csv_dir"
        dump = workload == "sqldump_multi"
        jdbc = workload == "jdbc_tables"
        wall_ms = root["end_ms"] - root["start_ms"]
        m = {
            "csvsource.read_s": dur_s("csvsource.read"),
            "csvsource.input_bytes": source_bytes if csv else 0,
            "csvsource.scan_passes": metrics.scan_passes(total("input_bytes"), source_bytes) if csv else 0.0,
            "sqldumpsource.parse_s": dur_s("sqldumpsource.parse"),
            "sqldumpsource.scan_passes": metrics.scan_passes(total("input_bytes"), source_bytes) if dump else 0.0,
            "jdbcsource.read_s": dur_s("jdbcsource.read"),
            "jdbcsource.rowcount_s": dur_s("jdbcsource.rowcount"),
            "jdbcsource.partitions": sum(s["attrs"].get("partitions", 0) for s in named("jdbcsource.read")),
            "jdbcsource.rows_fetched_ratio": total("input_records") / source_rows if jdbc else 0.0,
            "conversionjob.count_s": dur_s("conversionjob.count"),
            "conversionjob.attempts": attempts,
            "conversionjob.retries": attempts - len(tables),
            "conversionjob.backoff_s": convert["attrs"]["retry_sleep_s"],
            "conversionjob.table_s_max": max(table_s, default=0.0) / 1000.0,
            "conversionjob.table_s_sum": sum(table_s) / 1000.0,
            "conversionjob.tables_failed_ratio":
                sum(not t["success"] for t in tables) / len(tables) if tables else 0.0,
            "orcsink.write_s": dur_s("orcsink.write"),
            "orcsink.verify_s": dur_s("orcsink.verify"),
            "orcsink.files": convert["attrs"]["orc_files"],
            "orcsink.bytes": convert["attrs"]["orc_bytes"],
            "orcsink.readback_input_bytes": total("input_bytes", jobs_under(named("readback")[0])),
            "spark.jobs": len(cjobs),
            "spark.stages": total("stages"),
            "spark.tasks": total("tasks"),
            "spark.task_run_s": total("run_ms") / 1000.0,
            "spark.task_cpu_s": total("cpu_ns") / 1e9,
            "spark.gc_s": total("gc_ms") / 1000.0,
            "spark.driver_gap_s": metrics.driver_gap_ms(
                (convert["start_ms"], convert["end_ms"]),
                [(j["start_ms"], j["end_ms"]) for j in cjobs]) / 1000.0,
            "spark.input_bytes": total("input_bytes"),
            "spark.input_records": total("input_records"),
            "spark.output_bytes": total("output_bytes"),
            "spark.output_records": total("output_records"),
            "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
            "spark.spill_bytes": total("spill_bytes"),
            "trace.convert_s": (convert["end_ms"] - convert["start_ms"]) / 1000.0,
            "trace.overhead_s": ((convert["end_ms"] - convert["start_ms"]) / 1000.0
                                 - it["plain_convert_s"]) if it["plain_convert_s"] is not None else 0.0,
            "trace.wall_s": wall_ms / 1000.0,
            "trace.residual_s": self_ms[root["id"]] / 1000.0,
            "trace.accounted_ratio": 1.0 - self_ms[root["id"]] / wall_ms,
            "trace.iterations": len(trace["iterations"]),
            "bench.stage_s": expected["stage_s"],
        }
        per_iter.append(m)
    log(f"traced iterations: {len(per_iter)}; span self-times account for "
        f"{metrics.median([m['trace.accounted_ratio'] for m in per_iter]):.4%} of the traced wall")
    return {k: metrics.median([m[k] for m in per_iter]) for k in per_iter[0]}


def main():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir():
        die("run from the repository root: no src/main/scala here")
    jars = spark_jars()
    build_dir = root / ".bench_build" / "perfbench"
    work = build_dir / "work"
    work.mkdir(parents=True, exist_ok=True)
    with open(build_dir / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classpath = build(root, jars, build_dir / "classes")
        fixture = work / "fixtures" / args.workload
        loadavg = Path("/proc/loadavg").read_text().split()[:3]
        log(f"workload={args.workload} seed={args.seed} loadavg={' '.join(loadavg)}")
        shutil.rmtree(work / "out", ignore_errors=True)
        shutil.rmtree(work / "out_layers", ignore_errors=True)
        (work / "data_to_orc.log").unlink(missing_ok=True)
        res_path = work / f"run-{args.workload}.json"
        java(classpath, work, ["--workload", args.workload, "--seed", str(args.seed),
                               "--fixture", str(fixture), "--work", str(work),
                               "--seconds", str(args.seconds), "--trace", str(args.trace),
                               "--out", str(res_path)],
             work / f"run-{args.workload}.log", RUN_TIMEOUT_S)
        res = json.loads(res_path.read_text())
        expected = json.loads((fixture / "expected.json").read_text())

    verdicts = [check(op, expected) for op in res["ops"]]
    failures = [why for why in verdicts if why is not None]
    for why in failures[:5]:
        log(f"output check failed: {why}")
    ok_ops = [op for op, why in zip(res["ops"], verdicts) if why is None and "convert_s" in op]
    if args.trace:
        values, wanted = per_layer(res, expected, args.workload), spec["per_layer"]
    else:
        values, wanted = end_to_end(res, ok_ops, expected), spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"metrics not produced: {missing}", 1)
    print(json.dumps({
        "correct": not failures and bool(ok_ops),
        "attempted": len(res["ops"]),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
