#!/usr/bin/env python3
"""Benchmark launcher: builds the program from source, runs one workload in
a fresh JVM, checks the outputs and prints one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dag_refresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest      # the feed scaler's own test

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. The line before it records what the run ran
on (cores, Spark conf, JVM, scale, seed, commit) and the workload's own
numbers under the names the benchmark's design uses.

Everything the run writes lives under .bench_build/ in the checkout: the
compiled classes and class-data archive (reused while the sources are
unchanged), the outcome of the seed-independent golden-digest check for
that build, untraced unit times the traced run prices its overhead
against, the last run's spans, and one fresh work directory per run,
deleted when the run ends.
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
import zipfile
from pathlib import Path

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else None
# a run must end within 180 s; the first JVM of a build, which also runs
# the golden check and dumps the class-data archive, may take longer
JVM_TIMEOUT_S = 160
FIRST_JVM_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = Path(os.environ.get("SPARK_HOME", "/opt/spark"))
    jars = home / "jars"
    if not jars.is_dir():
        fail(f"no Spark jars under {jars}")
    return f"{jars}/*"


def sources():
    main = ROOT / "src" / "main"
    bench = ROOT / "perfbench" / "src"
    if not (main / "scala").is_dir():
        fail("src/main/scala not found: run from the root of a checkout")
    return main, bench


def build():
    """Compiles src/main and the benchmark once per source state."""
    main, bench = sources()
    files = sorted(p for d in (main, bench) for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / "ok").exists():
        return out, h.hexdigest()[:16]
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    jars = spark_jars()
    for name, srcs, cp in (
            ("main", [p for p in files if p.suffix == ".scala" and main in p.parents], jars),
            ("bench", [p for p in files if p.suffix == ".scala" and bench in p.parents],
             f"{out / 'main'}:{jars}")):
        dest = out / name
        dest.mkdir()
        argfile = out / f"{name}.args"
        argfile.write_text("\n".join(str(p) for p in srcs))
        log = out / f"{name}.log"
        with open(log, "w") as lf:
            rc = subprocess.call(
                ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                 "-nowarn", "-d", str(dest), "-classpath", cp, f"@{argfile}"],
                stdout=lf, stderr=subprocess.STDOUT)
        if rc != 0:
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"compiling {name} failed")
    resources = main / "resources"
    if resources.is_dir():
        shutil.copytree(resources, out / "main", dirs_exist_ok=True)
    # jars, not class directories, so the JVM can map a class-data archive
    for name in ("main", "bench"):
        with zipfile.ZipFile(out / f"{name}.jar", "w") as z:
            for p in sorted((out / name).rglob("*")):
                if p.is_file():
                    z.write(p, p.relative_to(out / name))
    (out / "ok").write_text("")
    return out, h.hexdigest()[:16]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def new_work_dir(workload, seed):
    work = BUILD / "runs" / f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    return work


def run_jvm(classes, work, workload, seed, seconds, trace, data="", golden=False):
    """Runs one workload in a fresh JVM inside `work`; returns the result
    file's content. The caller deletes `work`.

    The first JVM of a build dumps the classes it loaded into a class-data
    archive that every later JVM of that build maps, which takes most of
    JVM and session start-up out of every later run's set-up."""
    out = work / "result.json"
    archive = classes / "app.jsa"
    first = not archive.exists()
    cds = f"-XX:ArchiveClassesAtExit={archive}" if first \
        else f"-XX:SharedArchiveFile={archive}"
    env = dict(os.environ, SPARK_GRAFT_BUCKET_DIR=str(work / "scratch"),
               TMPDIR=str(work / "tmp"))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", cds,
           *[f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           "-cp", f"{classes / 'bench.jar'}:{classes / 'main.jar'}:{spark_jars()}",
           "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--work", str(work), "--out", str(out), "--cores", str(cores())]
    if data:
        cmd += ["--data", data]
    if golden:
        cmd += ["--golden", "1"]
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=FIRST_JVM_TIMEOUT_S if first else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = -1
    log.close()
    if rc != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(tail)
        fail(f"{workload} JVM exited with {rc}")
    return json.loads(out.read_text())


# fact tables a seed thins, and the key it thins them by; orders and
# lineitem share the order key so they stay consistent
THINNED = {"orders": "o_orderkey", "lineitem": "l_orderkey",
           "events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}


def derive_corpus(seed, out):
    """Writes the registry slice's corpus for this seed: the committed base
    corpus with one key in twenty of each fact table dropped, by a hash of
    the key and the seed. Returns rows per table."""
    import duckdb
    base = ROOT / "perfbench" / "data"
    out.mkdir(parents=True)
    con = duckdb.connect()
    rows = {}
    for p in sorted(base.glob("*.parquet")):
        key = THINNED.get(p.stem)
        where = f"WHERE hash({key}, {int(seed)}) % 20 <> 0" if key else ""
        con.execute(f"COPY (SELECT * FROM '{p}' {where}) TO '{out / p.name}' (FORMAT parquet)")
        rows[p.stem] = con.execute(f"SELECT count(*) FROM '{out / p.name}'").fetchone()[0]
    con.close()
    return rows


def oracle_check(work, corpus, queries):
    """The registry slice's results against DuckDB oracles, by
    tools/compare.py's rule; a query with no oracle passes on a non-empty
    result. Returns (attempted, failures)."""
    compare = ROOT / "tools" / "compare.py"
    res = subprocess.run([sys.executable, str(compare), str(corpus),
                          str(work / "results")],
                         capture_output=True, text=True, timeout=120)
    verdicts = {}
    for line in res.stdout.splitlines():
        parts = line.split(None, 1)
        if len(parts) == 2 and parts[0] in queries:
            verdicts[parts[0]] = parts[1]
    failures = []
    for q in queries:
        v = verdicts.get(q, f"no verdict: {res.stderr[-300:]}")
        if not (v == "OK" or (v.startswith("ROWS-ONLY") and "EMPTY" not in v)):
            failures.append(f"oracle {q}: {v}")
    return len(queries), failures


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, cwd=ROOT, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def history(tag, workload, unit_s=None):
    """Untraced unit times of this build, the traced run's base."""
    path = BUILD / f"history-{tag}.json"
    h = json.loads(path.read_text()) if path.exists() else {}
    if unit_s is not None:
        h.setdefault(workload, []).append(unit_s)
        path.write_text(json.dumps(h))
    return h.get(workload, [])


def selftest():
    classes, _ = build()
    work = new_work_dir("scaler_test", 0)
    res = run_jvm(classes, work, "scaler_test", 0, 0, False)
    shutil.rmtree(work, ignore_errors=True)
    for f in res["failures"]:
        print(f"FAIL {f}")
    print(f"scaler test: {res['attempted'] - res['failed']}/{res['attempted']} checks pass")
    sys.exit(1 if res["failed"] else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if SPEC is None:
        fail("BENCHMARK.json not found: run from the root of a checkout")
    sources()
    if a.selftest:
        selftest()
    names = [w["name"] for w in SPEC["workloads"]]
    if a.workload not in names:
        fail(f"--workload must be one of {names}")

    classes, tag = build()
    # the golden digests depend on the program only: the first run of a
    # build checks them, after its measured window, and every run counts them
    gold_path = BUILD / f"golden-{tag}.json"
    work = new_work_dir(a.workload, a.seed)
    prep_s, corpus, info = 0.0, None, {}
    if a.workload == "registry_slice":
        t0 = time.monotonic()
        corpus = work / "corpus"
        info["scale"] = "sf0.01"
        info["corpus_rows"] = derive_corpus(a.seed, corpus)
        prep_s = time.monotonic() - t0
    res = run_jvm(classes, work, a.workload, a.seed, a.seconds, a.trace == 1,
                  str(corpus) if corpus else "", golden=not gold_path.exists())
    if res["golden"] is not None:
        gold_path.write_text(json.dumps(res["golden"]))
    gold = json.loads(gold_path.read_text())
    res["metrics"]["setup_s"] += prep_s
    attempted = res["attempted"] + gold["attempted"]
    failures = list(res["failures"]) + [f"golden: {f}" for f in gold["failures"]]
    if corpus:
        n, bad = oracle_check(work, corpus, res["env"]["queries"])
        attempted += n
        failures += bad
    spans = res.pop("spans")
    (BUILD / f"last-trace-{a.workload}.json").write_text(json.dumps(spans))
    shutil.rmtree(work, ignore_errors=True)

    m, layers = res["metrics"], res["layers"]
    if a.trace == 0:
        history(tag, a.workload, m["unit_s"])
        wanted = SPEC["end_to_end"]
        values = m
    else:
        base = history(tag, a.workload)
        layers["trace.unit_s"] = m["unit_s"]
        # 0 until an untraced run of this build has recorded a base
        layers["trace.overhead_ratio"] = m["unit_s"] / statistics.median(base) if base else 0.0
        wanted = SPEC["per_layer"]
        values = layers
    metrics = {w["name"]: {"value": float(values.get(w["name"], 0.0)), "unit": w["unit"]}
               for w in wanted}
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "commit": commit(), "source_hash": tag,
              "env": {**res["env"], **info},
              "numbers": m,
              "error_rate": len(failures) / attempted,
              "failures": failures[:20]}
    print(json.dumps(detail))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
