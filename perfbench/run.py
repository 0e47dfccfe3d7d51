#!/usr/bin/env python3
"""Repository benchmark: build, run one workload in a fresh JVM, check, report.

Usage (from the repository root):
    python3 perfbench/run.py --workload <taxi_pipeline|catalog_core>
        --seed <n> --seconds <s> --trace <0|1>

The harness (perfbench/src) is compiled together with the library sources
(src/main/scala) by the sbt build in this directory; a digest of those
sources decides whether to rebuild. The JVM measures and writes
perfbench/work/<workload>/result.json; this launcher then runs the DuckDB
oracle compare for catalog_core, prints the host shape, run health and
every metric, and ends with one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
It exits non-zero when any operation or output check failed.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIBRARY = ROOT / "src" / "main" / "scala"
CLASSPATH_FILE = HERE / "target" / "perfbench.classpath"
TABLES = HERE / "data" / "sf0.01"
WORKLOADS = ("taxi_pipeline", "catalog_core")
# Per-layer metric prefixes each workload must emit in a traced run; the
# layers of the other workload do no work there and read 0.
LAYERS = {"taxi_pipeline": ("sources.", "taxi.", "spark.", "trace."),
          "catalog_core": ("queries.", "operators.", "spark.", "trace.")}
# Fixed heap and young generation: the heap's touched pages, and so the
# peak RSS, follow the live data rather than the collector's sizing.
# C1 only, so every figure is a C1 figure: within a run of about a minute
# C2 never settles, and how far it got differs from JVM to JVM; with the
# default tiered JIT, runs spread past the 0.25 bound (README, "Why C1").
# C1 alone needs more than its 48 MB default code cache, or flushing
# recompiles for seconds in the middle of a pass.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData"]
BUILD_TIMEOUT_S = 850
JVM_GRACE_S = 150
# Spark 4 on JDK 17 outside spark-submit (same list as the root build).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
KEEP = {"result.json", "spans.json", "jvm.log"}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw) -> int:
    """Run `cmd` in its own process group; kill the whole group on timeout
    or when this launcher is interrupted or terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill(signum=None, frame=None):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if signum is not None:
            sys.exit(128 + signum)

    handlers = {s: signal.signal(s, kill) for s in (signal.SIGINT, signal.SIGTERM)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        return -1
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)


def sources_digest() -> str:
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (LIBRARY, HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile if the sources changed; return the runtime classpath."""
    digest = sources_digest()
    if CLASSPATH_FILE.exists():
        stamp, cp = CLASSPATH_FILE.read_text().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    log = HERE / "target" / "build.log"
    tmp = HERE / "target" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile",
                          "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                         cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    cp = [l for l in lines if l and not l.startswith("[")][-1]
    CLASSPATH_FILE.write_text(digest + "\n" + cp)
    return cp


def oracle_checks(result: dict) -> list:
    """Each catalog entry's Spark output against its oracle SQL in DuckDB:
    columns sorted by name, values compared as strings."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for t in Path(result["tables"]).glob("*.parquet"):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    out = Path(result["tables"]).parent / "oracle_out"
    checks = []
    for name, sql in result["oracle"].items():
        detail = ""
        try:
            exp = con.sql(sql).df()
            files = sorted((out / name).glob("*.parquet"))
            got = pd.concat([pq.read_table(f).to_pandas() for f in files]) if files else None
            if got is None:
                detail = "no Spark output"
            else:
                exp = exp[sorted(exp.columns)].reset_index(drop=True)
                got = got[sorted(got.columns)].reset_index(drop=True)
                if list(exp.columns) != list(got.columns):
                    detail = f"columns {list(got.columns)} != {list(exp.columns)}"
                elif len(exp) != len(got):
                    detail = f"{len(got)} rows != {len(exp)}"
                else:
                    bad = [c for c in exp.columns if not (exp[c].astype(str) == got[c].astype(str)).all()]
                    detail = f"values differ in {bad}" if bad else ""
        except Exception as e:  # an oracle error is a failed check, not a crash
            detail = f"{type(e).__name__}: {e}"
        checks.append({"name": f"catalog_core.{name}.oracle", "ok": not detail, "detail": detail[:300]})
    return checks


def tail_ms(xs: list) -> float:
    """p90 of operation latencies (inclusive quantiles)."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (LIBRARY / "graft").is_dir() or not TABLES.is_dir():
        fail(f"library sources {LIBRARY} or tables {TABLES} not found; run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()

    work = HERE / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *JVM_FLAGS, *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--data", str(TABLES)]
    with open(work / "jvm.log", "w") as log:
        code = run_group(cmd, args.seconds + JVM_GRACE_S, cwd=work, stdout=log,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    result_file = work / "result.json"
    result = json.loads(result_file.read_text()) if result_file.exists() else {}
    if code != 0 or "error" in result:
        sys.stderr.write("\n".join((work / "jvm.log").read_text().splitlines()[-30:]) + "\n")
        fail(f"{args.workload} run failed (exit {code}): {result.get('error', 'no result')}")

    oracle = oracle_checks(result) if "oracle" in result else []
    checks = result["checks"] + oracle
    attempted = result["attempted"] + len(oracle)
    failed = result["failed"] + sum(not c["ok"] for c in oracle)
    failures = result["failures"] + [f"{c['name']}: {c['detail']}" for c in oracle if not c["ok"]]
    for p in work.iterdir():
        if p.name not in KEEP:
            shutil.rmtree(p) if p.is_dir() else p.unlink()

    h = result["host"]
    print(f"host: cores={h['cores']} heap_mb={h['heap_mb']} jdk={h['jdk']} spark={h['spark']} "
          f"scala={h['scala']} shuffle_partitions={h['shuffle_partitions']}")
    c0, c1 = result["canary_ms"]
    print(f"health: canary_before_ms={c0:.1f} canary_after_ms={c1:.1f} degraded={str(result['degraded']).lower()}")
    scale = f" copies={result['copies']}" if "copies" in result else ""
    print(f"run: workload={args.workload} seed={args.seed}{scale} "
          f"passes={len(result['pass_s'])} ops={len(result['op_ms'])} "
          f"checks={sum(c['ok'] for c in checks)}/{len(checks)} failed_ratio={failed / attempted:.4f}")
    for f in failures:
        print(f"FAILED {f}")

    if args.trace:
        declared = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = result["per_layer"]
        unknown = sorted(set(values) - {n for n, _ in declared})
        if unknown:
            fail(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        missing = [n for n, _ in declared if n.startswith(LAYERS[args.workload]) and n not in values]
        if missing:
            fail(f"{args.workload} emitted no value for per-layer metrics {missing}")
        values = {n: values.get(n, 0.0) for n, _ in declared}
        print(f"trace: spans={result['spans']} traced_passes={len(result['traced_pass_s'])} "
              f"overhead_s={values['trace.overhead_s']:.4f}")
    else:
        declared = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = {
            "setup_s": result["setup_s"],
            "pass_s": statistics.median(result["pass_s"]),
            "query_p50_ms": statistics.median(result["op_ms"]),
            "query_tail_ms": tail_ms(result["op_ms"]),
            "cpu_s": statistics.median(result["pass_cpu_s"]),
            "peak_rss_mb": result["peak_rss_mb"],
        }
    metrics = {n: {"value": values[n], "unit": u} for n, u in declared}
    for n, m in metrics.items():
        print(f"metric: {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
