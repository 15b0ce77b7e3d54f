#!/usr/bin/env python3
"""Snapshot-cycle pipeline benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload snapshot_7k --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

The first run builds the pipeline from the repository's sources together
with the benchmark driver into perfbench/target, with the Scala compiler
that ships among Spark's jars; later runs reuse that build until a source
file changes. Each run works in a fresh directory under perfbench/.work
that is deleted when it ends, with its own Spark local dir, layer roots, streaming checkpoint, Derby home and
in-memory Derby database. The last line of stdout is the result JSON.
"""
import argparse
import contextlib
import fcntl
import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
CLASSPATH_FILE = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("snapshot_7k", "backfill_stream")
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """The pipeline's sources and the benchmark driver's, compiled together."""
    out = []
    for top in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def sources_mtime():
    newest = os.path.getmtime(__file__)
    for top in (PROGRAM_SRC, PROGRAM_RESOURCES, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def spark_jars():
    """The jars of $SPARK_HOME, else of the Spark installation whose
    bin/spark-submit is on the PATH, else the jars directory the repository's
    own build.sbt compiles against. They carry the Scala compiler and library
    the build uses and Derby for the serving load."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        dirs.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    with contextlib.suppress(OSError):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
            return jars
    raise SystemExit("no Spark installation with a Scala compiler: set SPARK_HOME")


def build():
    """Compile program + benchmark with scalac unless the last build is newer
    than every source. Nothing but the JDK and Spark's jars is needed, and
    nothing is written outside perfbench/target. Runs started together
    build once: the others wait on the build lock."""
    target = os.path.dirname(CLASSPATH_FILE)
    os.makedirs(target, exist_ok=True)
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= sources_mtime()):
            compile_all(target)


def compile_all(target):
    jars = spark_jars()
    classes = os.path.join(target, "classes")
    tmp = os.path.join(target, "tmp")
    shutil.rmtree(classes, ignore_errors=True)
    with contextlib.suppress(FileNotFoundError):
        os.remove(CLASSPATH_FILE)
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    sources = source_files()
    argfile = os.path.join(target, "sources.txt")
    with open(argfile, "w") as f:
        f.write("".join(f'"{src}"\n' for src in sources))  # quoted: a path may hold spaces
    log(f"compiling {len(sources)} Scala sources (pipeline and benchmark driver)")
    cp = os.pathsep.join(jars)
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-d", classes, "-classpath", cp, "-nowarn", "@" + argfile]
    # compiler output goes to stderr: stdout carries only the result
    proc = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"build failed (scalac exit {proc.returncode})")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(os.pathsep.join([classes, PROGRAM_RESOURCES, *jars]))


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


# fixed heap and young generation, so the GC work of a cycle does not
# follow the collector's adaptive sizing, which on a noisy host follows the noise
HEAP_FLAGS = ["-Xms1g", "-Xmx1g", "-Xmn256m"]


def run_jvm(args, work, timeout):
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java_bin(), *HEAP_FLAGS, "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
           "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Bench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", os.path.join(work, "run")]
    for k in ("rows", "warmup", "backlog", "oracle_out"):
        v = getattr(args, k, None)
        if v is not None:
            cmd += ["--" + k.replace("_", "-"), str(v)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run exceeded {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


@contextlib.contextmanager
def fresh_workdir(prefix):
    """A new directory under perfbench/.work, deleted with everything in it."""
    base = os.path.join(HERE, ".work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=prefix, dir=base)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def recount(raw_root):
    """Recompute each cycle's fact count, checksums and per-category counts
    from the generated shard files, independently of the generator."""
    cycles = {}
    for d, _, files in os.walk(raw_root):
        for name in files:
            if not name.endswith(".json"):
                continue
            with open(os.path.join(d, name)) as f:
                env = json.load(f)
            rows = cycles.setdefault((env["day_date_id"], env["time_of_day_id"]), {})
            for r in env["data"]:
                if r["event_id"] is None or r["user_id"] is None or r["user_id"] < 0:
                    continue
                prev = rows.get(r["user_id"])
                if prev is None or r["event_id"] < prev["event_id"]:
                    rows[r["user_id"]] = r
    out = {}
    for key, rows in cycles.items():
        props = [json.loads(r["props"])["k"] for r in rows.values() if r["props"] is not None]
        cats = {}
        for r in rows.values():
            c = r["event_type"] or "notavailable"
            cats[c] = cats.get(c, 0) + 1
        out[key] = {"fact_rows": len(rows),
                    "sum_event_id": sum(r["event_id"] for r in rows.values()),
                    "sum_user_id": sum(r["user_id"] for r in rows.values()),
                    "sum_value": int(sum(r["value"] for r in rows.values())),
                    "sum_prop_k": sum(props), "count_prop_k": len(props),
                    "per_category": cats}
    return out


def selftest():
    """A few cycles of a few hundred rows per workload, traced and untraced:
    the generator's oracle must agree with an independent recount of the
    files it wrote, and every metric must be printed with its unit."""
    build()
    ok = True
    for workload in WORKLOADS:
        for trace in (0, 1):
            with fresh_workdir("selftest-") as keep:
                a = argparse.Namespace(workload=workload, seed=7, seconds=2, trace=trace,
                                       rows=300, warmup=2, backlog=4,
                                       oracle_out=os.path.join(keep, "oracle.json"))
                code, out = run_jvm(a, keep, RUN_TIMEOUT_S)
                last = out.strip().splitlines()[-1] if out.strip() else "{}"
                result = json.loads(last)
                want = expected_metrics(trace)
                got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
                problems = []
                if code != 0 or not result.get("correct"):
                    problems.append(f"exit {code}, correct={result.get('correct')}")
                if got != want:
                    problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                                    f"extra {sorted(set(got) - set(want))}, "
                                    f"units {[k for k in want if k in got and got[k] != want[k]]}")
                with open(a.oracle_out) as f:
                    oracle = json.load(f)
                recounted = recount(os.path.join(keep, "run"))
                for e in oracle:
                    r = recounted.get((e["day"], e["time"]))
                    fields = ("fact_rows", "sum_event_id", "sum_user_id", "sum_value",
                              "sum_prop_k", "count_prop_k", "per_category")
                    if r is None or any(r[k] != e[k] for k in fields):
                        problems.append(f"oracle and recount disagree on {e['day']}_{e['time']}")
                if len(recounted) != len(oracle):
                    problems.append(f"{len(recounted)} cycles on disk, {len(oracle)} in the oracle")
                status = "ok" if not problems else "FAIL " + "; ".join(problems)
                log(f"selftest {workload} trace={trace}: {len(oracle)} cycles, {status}")
                ok = ok and not problems
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        log(f"no pipeline sources at {os.path.relpath(PROGRAM_SRC, ROOT)}: run from a full checkout")
        return 2
    if args.selftest:
        return selftest()
    if args.workload is None:
        ap.error("--workload is required")
    build()
    with fresh_workdir("run-") as work:
        code, out = run_jvm(args, work, RUN_TIMEOUT_S)
    sys.stdout.write(out)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
