#!/usr/bin/env python3
"""graft benchmark: cold set-up, steady-state latency and per-layer costs.

Usage (from the repository root):

    python3 perfbench/run.py --workload {cardest,adhoc} --seed N \
        --seconds S --trace {0,1}

Workloads (one closed-loop client, one process, local[nproc]):
  cardest  the Scardina pipeline (fanouts, CIN and histogram estimates,
           q-error) at sf0.001, served from the committed model store,
           which it must not write (a training run fails the run).
  adhoc    seeded COUNT(*) join queries through PseudoSql.parse ->
           Engine.count, checked against DuckDB's counts; never touches
           Memo or Checkpoint; the only workload whose inputs change
           with the seed.

A run does ROUNDS cold set-ups (new session, fresh copy of the dataset so
no per-dataset cache survives, one answer for every request), then
passes over the requests in a seeded order for --seconds, and at least
until the latency tail rests on ten samples. Answers are checked against
DuckDB outside the timed region. The first run builds the library and the
harness from source with sbt (offline), cached under perfbench/.work.

The last stdout line is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1. Each run also writes perfbench/.work/results/<workload>-s<seed>-t<trace>.json
(metrics, run metadata, failures), plus the span file when traced.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import adhoc  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
BASE_DATA = os.path.join(HERE, "data", "sf0.001")
STORE = os.path.join(ROOT, "models", "graft_ckpt")
ROUNDS = 3
HEAP = "3g"
JVM_TIMEOUT_S = 150
MIN_SAMPLES = stats.min_samples(stats.TAIL)
WORKLOADS = ("cardest", "adhoc")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(d, pattern="**/*"):
    return [p for p in glob.glob(os.path.join(d, pattern), recursive=True)
            if os.path.isfile(p)]


def build():
    """Compiles the library sources and the harness; cached by a digest
    of every input file."""
    inputs = (files_under(os.path.join(ROOT, "src", "main")) +
              files_under(os.path.join(HERE, "src")) +
              [os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")])
    digest = tree_digest(inputs)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(WORK, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building library and harness with sbt")
    t = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(WORK, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t:.0f} s")
    return classes


def java_cmd(classes, run_dir, *args):
    spark_home = os.environ["SPARK_HOME"]
    opens = [x for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
        for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-cp",
             f"{classes}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
             "graftbench.Harness", "--scratch", run_dir, "--cores", str(cores())] +
            [str(a) for a in args])


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cmd, log_path):
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s; see {log_path}", 1)
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {rc}; see {log_path}", 1)


def requests_for(workload, seed):
    """(TSV lines for the harness, expected COUNT(*) per id or None)."""
    if workload == "adhoc":
        qs = adhoc.generate(seed, BASE_DATA)
        return [f"{qid}\tsql\tquery\t{sql}" for qid, sql, _ in qs], \
            {qid: n for qid, _, n in qs}
    lines = []
    with open(os.path.join(HERE, "workloads", f"{workload}.tsv")) as f:
        for line in f:
            if line.strip():
                name, stage = line.split()
                lines.append(f"{name}\tquery\t{stage}\t{name}")
    return lines, None


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"  # a source export: no commit to report
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def qerror_cin(answers_dir):
    """p50 and max q-error of model cin, from the q_error_model_quantiles answer."""
    df = oracle.read_answer(answers_dir, "q_error_model_quantiles")
    cin = df[df["model"] == "cin"].set_index("quantile")["value"]
    return float(cin.loc[0.5]), float(cin.loc[1.0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))
            and os.path.isdir(STORE)):
        fail("library sources or model store not found: run from a full checkout")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set: it names the Spark installation whose jars to use")
    classes = build()

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    round_dirs = []
    for i in range(1, ROUNDS + 1):
        # a fresh path per round: no per-dataset cache (memo, fingerprint,
        # read relation) survives; the directory name keys the model store
        d = os.path.join(run_dir, f"r{i}", os.path.basename(BASE_DATA))
        shutil.copytree(BASE_DATA, d)
        round_dirs.append(d)
    lines, expected = requests_for(a.workload, a.seed)
    req_file = os.path.join(run_dir, "requests.tsv")
    with open(req_file, "w") as f:
        f.write("\n".join(lines) + "\n")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    store_before = tree_digest(files_under(STORE))

    run_jvm(java_cmd(classes, run_dir, "--workload", a.workload, "--requests", req_file,
                     "--round-dirs", ",".join(round_dirs), "--seconds", a.seconds,
                     "--min-samples", MIN_SAMPLES, "--max-seconds", 3 * a.seconds,
                     "--seed", a.seed, "--trace", a.trace, "--out", out_dir),
            os.path.join(run_dir, "jvm.log"))

    with open(os.path.join(out_dir, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(out_dir, "oracle.json")) as f:
        oracle_sql = json.load(f)

    # ---- checks, outside every timed region ----
    answers_dir = os.path.join(out_dir, "answers")
    ids = [r["id"] for r in result["requests"]]
    if expected is not None:
        bad = oracle.check_counts(result["counts"], expected)
    else:
        con = oracle.connect(round_dirs[-1])
        bad = oracle.check_queries(con, answers_dir, result["answered"], oracle_sql)
        con.close()
    problems = []
    if tree_digest(files_under(STORE)) != store_before:
        problems.append("models/graft_ckpt changed during the run")
    if a.workload == "cardest" and result["ckpt_train_runs_total"] > 0:
        problems.append(f"cardest trained {result['ckpt_train_runs_total']} artifacts")

    rounds, passes = result["rounds"], result["passes"]
    executions = [r for p in passes for r in p["requests"]]
    attempted = len(ids) * len(rounds) + len(executions)
    n_failed = sum(r["failed"] for r in rounds) + sum(not r["ok"] for r in executions)
    n_wrong = (sum(not r["same"] for r in executions if r["ok"]) +
               sum(r["ok"] and r["same"] for r in executions if r["id"] in bad) +
               len(rounds) * len(bad))
    err_rate = stats.error_rate(n_failed, n_wrong, attempted)
    for qid, why in sorted({**result["failed"], **bad}.items()):
        log(f"request {qid} failed: {why}")
    for qid in result["wrong"]:
        log(f"request {qid} answered differently from its checked answer")
    for p in problems:
        log(p)

    cache_mb = result["cache_bytes"] / 1e6
    if a.trace:
        with open(os.path.join(out_dir, "spans.json")) as f:
            spans = json.load(f)
        metrics = stats.per_layer(result, spans, result["cores"])
        metrics["error_rate"] = err_rate
        metrics["cache_mb"] = cache_mb
        p50, qmax = qerror_cin(answers_dir) if a.workload == "cardest" else (0.0, 0.0)
        metrics["qerror_cin_p50"], metrics["qerror_cin_max"] = p50, qmax
        samples = None
    else:
        spans = None
        metrics, samples = stats.end_to_end(result)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    unit_of = {m["name"]: m["unit"] for k in ("end_to_end", "per_layer") for m in spec[k]}
    out = {"correct": not problems and n_failed == 0 and n_wrong == 0,
           "attempted": attempted, "failed": n_failed + n_wrong,
           "metrics": {k: {"value": v, "unit": unit_of.get(k, "")}
                       for k, v in metrics.items()}}

    # ---- run record: metrics, metadata, failures (and spans when traced) ----
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "git_commit": git_commit(), "nproc": cores(), "heap": HEAP,
        "heap_mb_seen": result["heap_mb"],
        "session_settings": {k: v.replace(ROOT, ".") for k, v in result["settings"].items()},
        "memo_lineage_cut": result["lineage_cut"], "rounds": len(rounds),
        "latency_samples": samples, "passes": len(passes),
        "requests": result["requests"], "expected_counts": expected,
        "result": out, "error_rate": err_rate, "cache_mb": cache_mb,
        "failed": result["failed"], "wrong": result["wrong"], "rejected": bad,
        "problems": problems, "setup_rounds": rounds,
        "passes_seconds": [{"traced": p["traced"], "warmup": p["warmup"],
                            "seconds": p["seconds"]} for p in passes],
    }
    with open(os.path.join(res_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if spans is not None:
        with open(os.path.join(res_dir, f"{tag}.spans.json"), "w") as f:
            json.dump(spans, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
