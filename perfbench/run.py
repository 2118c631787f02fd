#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark program with sbt (offline) and caches the classpath under
perfbench/.build; later runs start the JVM directly. Each run generates
its inputs from the seed into a fresh work directory (also the JVM's
java.io.tmpdir and Spark's local dir), runs the workload in one JVM,
checks the outputs, prints a report, and as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (the traced run also writes spans,
see perfbench/spans.py). The full result is kept in perfbench/.out.
"""
import argparse
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
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, ".out")
DEADLINE_S = 170.0

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark program; return its classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the graft sources are not next to perfbench/ "
                         "(run from a full checkout)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building the library and the benchmark program with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve only from the local repositories sbt is configured with
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = p.stdout.splitlines()
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout)
    cps = [ln for ln in lines if "perfbench" in ln and ln.count(os.pathsep) > 3
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: build failed (sbt exit {p.returncode})")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def run_jvm(cp, args, work, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every temporary file of the run stays in its work directory
    cmd = [java_bin(), "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")


def load_json(path):
    with open(path) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (smoke checks)")
    ap.add_argument("--factor", type=int, default=None,
                    help="override the corpus expansion factor (smoke checks)")
    ap.add_argument("--rate", type=float, default=None,
                    help="cdc_ingest offered rate in files/s (rate probe); "
                         "default: rate_files_per_s in spec.json")
    a = ap.parse_args(argv)

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "spec.json"))
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    w = spec["workloads"][a.workload]
    cp = build()
    # a run's own time limit starts after a first run's build
    t_start = time.time()

    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inp = dict(w["input"])
        if a.sf is not None:
            inp["sf"] = a.sf
            if "doc_sf" in inp:
                inp["doc_sf"] = min(inp["doc_sf"], a.sf)
        if a.factor is not None and "factor" in inp:
            inp["factor"] = a.factor
        data = os.path.join(work, "data")
        t0 = time.time()
        census = gen.write(a.seed, inp["sf"], data, inp.get("doc_sf"), inp.get("factor", 1))
        gen_s = time.time() - t0
        params = {}
        if "rate_files_per_s" in w:
            params["rate"] = str(a.rate if a.rate is not None else w["rate_files_per_s"])
        k = cores()
        raw_path = os.path.join(work, "raw.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(k), "--data", data, "--work", work,
                "--spec", os.path.join(HERE, "spec.json"),
                "--out", raw_path]
        for key, v in params.items():
            args += [f"--{key}", v]
        run_jvm(cp, args, work, DEADLINE_S - (time.time() - t_start))
        raw = load_json(raw_path)

        # output checks: DuckDB oracle for the query workloads
        failures = list(raw["check_failures"])
        bad = {}
        t0 = time.time()
        if "check_dir" in raw["e2e"]:
            verdicts = oracle.compare(raw["e2e"]["check_dir"], raw["e2e"]["check_data_dir"])
            bad = {q: why for q, why in verdicts.items() if why is not None}
        oracle_s = time.time() - t0
        ops = raw["ops"]
        failed_ops = [o for o in ops if not o["ok"] or o["name"] in bad]
        attempted = len(ops) + int(raw["e2e"].get("batches", 0))
        failed = len(failed_ops) + len(failures)
        e2e = dict(raw["e2e"])
        e2e["error_rate"] = failed / max(1, attempted)

        result = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": k, "conf": raw["conf"], "params": params,
            "inputs": census, "input_gen_s": gen_s, "oracle_s": oracle_s,
            "process_s": raw["process_s"], "total_s": time.time() - t_start,
            "fingerprint": hashlib.sha256(json.dumps(
                {t: c["md5"] for t, c in census.items()}, sort_keys=True).encode()).hexdigest(),
            "e2e": e2e, "layers": raw["layers"], "ops": ops,
            "oracle_failures": bad, "check_failures": failures,
            "failed_ops": sorted({o["name"] for o in failed_ops}),
        }
        os.makedirs(OUT, exist_ok=True)
        out_path = os.path.join(OUT, f"{a.workload}-s{a.seed}-t{a.trace}.json")
        if raw.get("spans_file"):
            spans = os.path.join(OUT, f"{a.workload}-s{a.seed}.spans.jsonl")
            shutil.copyfile(raw["spans_file"], spans)
            result["spans_file"] = os.path.relpath(spans, ROOT)
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)

        # human report, then the one-line verdict
        print(f"workload {a.workload} seed {a.seed} cores {k} trace {a.trace}: "
              f"{len(ops)} ops, {attempted} attempted, {failed} failed")
        for name in sorted(set(result["failed_ops"])):
            print(f"  FAILED op {name}: {bad.get(name) or next((o['error'] for o in ops if o['name'] == name and o['error']), '')}")
        for msg in failures:
            print(f"  FAILED check: {msg}")
        for key, v in e2e.items():
            if isinstance(v, (int, float)):
                print(f"  {key} = {v}")
        print(f"  result file: {os.path.relpath(out_path, ROOT)}")
        section = "per_layer" if a.trace else "end_to_end"
        source = raw["layers"] if a.trace else e2e
        metrics = {}
        for m in bench[section]:
            v = source.get(m["name"])
            if v is None:
                raise SystemExit(f"perfbench: metric {m['name']} missing from the result")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
