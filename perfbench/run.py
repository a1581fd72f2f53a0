#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {stream,query_mix} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It builds the program from source (into
`.bench_build/`), trains the model once per build the way `PipelineMain`
does when no model exists, generates the run's inputs from the seed,
runs the JVM harness, checks every output, and prints one JSON line as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones (listeners attached, layer prefixes, staged fit).
Every run also leaves a JSON artifact under `.bench_build/artifacts/`.
See perfbench/README.md for what each workload and metric means.
"""
import argparse
import ctypes
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import spec  # noqa: E402

BUILD = build.BUILD
SF = "sf0.1"
PREFIX_RECORDS = 1000      # batch the layer prefixes are forced over
PREFIX_REPS = 3           # repetitions per layer prefix in a traced run
REF_RATE, REF_TRIGGER_MS, REF_WARMUP_S = 15.0, 2000, 4.0   # open loop, ~30 records a batch
BULK_FILES_PER_TRIGGER = 3   # 1500-record bulk batches
BULK_RECORDS = 4500       # bulk backlog, drained in 1500-record batches
BULK_PER_FILE = 500
BULK_WARM_RECORDS = 3000  # two untimed bulk batches before the timed phases
LOCAL1_RECORDS = 1000     # traced run: single-core drain
WARM_RECORDS = 20        # the first batch each model set-up serves
REF_OUTAGES = 2           # primary outages among the reference batches
RUN_BUDGET_S = 175
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def mem_total_kb():
    try:
        with open("/proc/meminfo") as fh:
            return next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return None


def heap_size():
    """Tier-1's rule: half of MemTotal in GiB, clamped to [2, 8]."""
    g = (mem_total_kb() or 0) // 2097152
    return f"{min(max(g, 2), 8)}g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def die_with_parent():
    """Child-side: have the kernel kill the JVM if this process dies first."""
    try:
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def jvm(classes, workload, work, seconds, trace, timeout_s):
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env.update(SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.abspath(os.path.join(work, 'warehouse'))}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{os.path.abspath(classes)}:{build.classpath()}",
            "graft.perfbench.Harness", workload, os.path.abspath(work), str(seconds),
            "1" if trace else "0"]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                                preexec_fn=die_with_parent)
        try:
            rc = proc.wait(timeout=max(timeout_s, 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        tail = open(log, errors="replace").read()[-3000:]
        sys.stderr.write(tail)
        return None, f"harness {workload} exited with {rc}"
    with open(res) as fh:
        return json.load(fh), None


def write_params(work, params):
    with open(os.path.join(work, "params.properties"), "w") as fh:
        for k, v in params.items():
            fh.write(f"{k}={v}\n")


def ensure_model(classes, src):
    """Train once per build (PipelineMain's train-if-absent): the model
    directory is keyed by the build stamp."""
    key = open(os.path.join(BUILD, "classes.stamp")).read()[:16]
    root = os.path.join(BUILD, f"model-{key}")
    model = os.path.join(root, "model")
    if os.path.exists(os.path.join(root, "trained.json")):
        return os.path.abspath(model), os.path.abspath(os.path.join(root, "train.json"))
    for old in os.listdir(BUILD):  # models of earlier builds
        if old.startswith("model-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(root)
    corpus = os.path.join(root, "train.json")
    gen.write_json_array(corpus, gen.train_corpus(src))
    write_params(root, {"train_corpus": os.path.abspath(corpus), "model_dir": os.path.abspath(model)})
    res, err = jvm(classes, "train", root, 0, False, 600)
    if err:
        fail(f"training failed: {err}", 1)
    with open(os.path.join(root, "trained.json"), "w") as fh:
        json.dump(res, fh)
    return os.path.abspath(model), os.path.abspath(corpus)


def stream_inputs(src, work, seed, seconds, trace):
    n_ref = int(math.ceil(REF_RATE * (REF_WARMUP_S + seconds))) + 25
    extra = LOCAL1_RECORDS if trace else 0
    recs = gen.stream_records(src, seed, n_ref + BULK_RECORDS + BULK_WARM_RECORDS + extra +
                              WARM_RECORDS)
    os.makedirs(os.path.join(work, "warm"))
    gen.write_lines(os.path.join(work, "warm", "part-000000.json"), recs[-WARM_RECORDS:])
    ref, bulk = recs[:n_ref], recs[n_ref:n_ref + BULK_RECORDS]
    local1 = recs[n_ref + BULK_RECORDS:n_ref + BULK_RECORDS + extra]
    start = n_ref + BULK_RECORDS + extra
    warm_bulk = recs[start:start + BULK_WARM_RECORDS]
    gen.write_lines(os.path.join(work, "ref_records.jsonl"), ref)
    gen.stage_backlog(os.path.join(work, "bulk", "in"), bulk, BULK_PER_FILE)
    gen.stage_backlog(os.path.join(work, "bulk_warm", "in"), warm_bulk, BULK_PER_FILE)
    if trace:
        gen.stage_backlog(os.path.join(work, "bulk_local1", "in"), local1, BULK_PER_FILE)
    # seeded outages among the first reference batches, which every run has
    calls = sorted(random.Random(seed).sample(range(1, 4), REF_OUTAGES))
    return ref, bulk + warm_bulk, local1, calls


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()

    if not os.path.isdir("src/main/scala"):
        fail("run from the repository root: src/main/scala is missing")
    testdata = gen.testdata_root()
    if not os.path.exists(os.path.join(testdata, SF, "documents.parquet")):
        fail(f"test tables missing under {testdata}/{SF}")
    os.makedirs(BUILD, exist_ok=True)
    classes = build.build(".")
    src = gen.Source(os.path.join(testdata, SF))
    model, corpus = ensure_model(classes, src)
    t_start = time.time()  # a first run may spend longer building and training

    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    params = {"sf_dir": os.path.join(testdata, SF),
              "model_dir": model, "train_corpus": corpus, "prefix_reps": PREFIX_REPS, "prefix_records": PREFIX_RECORDS}
    if a.workload == "stream":
        ref, bulk, local1, calls = stream_inputs(src, work, a.seed, a.seconds, a.trace)
        params.update(ref_outage_calls=",".join(map(str, calls)), ref_rate_per_s=REF_RATE,
                      ref_trigger_ms=REF_TRIGGER_MS, ref_warmup_s=REF_WARMUP_S,
                      bulk_files_per_trigger=BULK_FILES_PER_TRIGGER)
    else:
        order = list(spec.QUERIES)
        random.Random(a.seed).shuffle(order)
        params["queries"] = ",".join(order)
    write_params(work, params)

    budget = RUN_BUDGET_S - (time.time() - t_start)
    res, err = jvm(classes, a.workload, work, a.seconds, a.trace, budget)
    if err:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        fail(err, 1)

    m, rep = res["metrics"], res["report"]
    t_check = time.time()
    if a.workload == "stream":
        dirs = [os.path.join(work, p) for p in ("bulk_warm", "ref", "bulk")]
        gen_ref = rep["ref"]["generated"]
        ids = [r["id"] for r in ref[:gen_ref]] + [r["id"] for r in bulk]
        attempted, failed, notes = check.check_stream(
            ids, [os.path.join(d, "primary") for d in dirs], [os.path.join(d, "fallback") for d in dirs],
            rep["ref"]["injected_outages"], os.path.join(work, "expected"))
        if a.trace:
            d = os.path.join(work, "bulk_local1")
            a1, f1, n1 = check.check_stream([r["id"] for r in local1], [os.path.join(d, "primary")],
                                            [os.path.join(d, "fallback")], 0, None)
            attempted, failed, notes = attempted + a1, failed + f1, notes + n1
        extra = {}
    else:
        with open(os.path.join(work, "oracle_sql.json")) as fh:
            oracle = json.load(fh)
        attempted, failed, notes, hashes = check.check_queries(
            os.path.join(testdata, SF), os.path.join(work, "qout"), oracle, rep["order"],
            os.path.join(BUILD, "oracle-hashes.json"))
        extra = {"result_hashes": hashes}
    m["bench.fail_share"] = failed / attempted

    names = spec.PER_LAYER if a.trace else spec.END_TO_END
    arts = os.path.join(BUILD, "artifacts")
    os.makedirs(arts, exist_ok=True)
    stamp = open(os.path.join(BUILD, "classes.stamp")).read()[:16]
    history = os.path.join(arts, f"untraced-{a.workload}-{stamp}.jsonl")
    if a.trace:
        base = {}
        if os.path.exists(history):
            rows = [json.loads(l) for l in open(history) if l.strip()]
            for k in spec.END_TO_END:
                vals = [r[k] for r in rows if k in r]
                if vals:
                    base[k] = statistics.median(vals)
        for k in spec.END_TO_END:
            if base.get(k) and k in m:
                m["bench.trace_overhead." + k] = m[k] / base[k] - 1
    elif failed == 0:
        with open(history, "a") as fh:
            fh.write(json.dumps({k: m[k] for k in spec.END_TO_END if k in m}) + "\n")
    metrics = {k: {"value": float(m.get(k, 0.0)), "unit": names[k][0]} for k in names}
    missing = [k for k in spec.END_TO_END if k not in m] if not a.trace else []
    if missing:
        notes.append(f"metrics not produced: {missing}")
        failed += 1

    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "correct": failed == 0, "attempted": attempted, "failed": failed, "notes": notes,
                "metrics": m, "report": rep, "env": dict(res["env"], cores=cores(),
                                                       mem_total_kb=mem_total_kb(), heap=heap_size()),
                "wall_s": time.time() - t_start, "check_s": time.time() - t_check, **extra}
    with open(os.path.join(arts, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    for n in notes:
        sys.stderr.write(f"perfbench: check: {n}\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
