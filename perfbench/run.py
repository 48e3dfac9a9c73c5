"""graft's benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload methyl_cohort --seed 1 \\
        --seconds 13 --trace 0

Run from the repository root. The script builds graft and the harness
(perfbench/build.py), writes the workload's inputs from the seed (cached
per seed under .bench_build/inputs), runs the harness JVM with the
build's JVM options on ``local[nproc]``, checks the outputs and prints
one JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. Rationale,
interaction table and measured steadiness are in perfbench/NOTES.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("methyl_cohort", "registry_small")
# methyl_cohort size; its warm-up iteration runs on the same cohort
COHORT = dict(n_samples=8, n_probes=8_000)
METHYL_SPANS = (
    "io.sample_sheet", "sources.idat_scan", "core.signal_build",
    "prep.poobah", "core.betas", "dm.dmp", "dm.dmr")
SPAN_FIELDS = ("wall_s", "self_s", "cpu_s", "gc_s", "shuffle_mb", "jobs")
REGISTRY_OBJECTS = (
    "Relational", "Windows", "Stats", "IntervalQ", "TextQ", "SimilarityQ",
    "ExtraQ", "EventTimeQ", "CurationQ", "DomainQ", "DomainQ2", "IoQ")
RUN_TIMEOUT_S = 170
REGISTRY_BASE_SEED = 42

END_TO_END = {"setup_s": "s", "iteration_s": "s", "heap_retained_mb": "MB"}
PER_LAYER = dict(
    [("%s.%s" % (s, f), "count" if f == "jobs" else
      "MB" if f.endswith("_mb") else "s")
     for s in METHYL_SPANS for f in SPAN_FIELDS] +
    [("prep.poobah.storage_mb", "MB"),
     ("iteration.wall_s", "s"), ("iteration.self_s", "s"),
     ("iteration.reconcile_frac", "ratio"),
     ("calls.p50_ms", "ms"),
     ("calls.samples", "count"), ("jvm.gc_s", "s"),
     ("queries.construct_ms_p50", "ms"), ("queries.action_ms_p50", "ms"),
     ("queries.self_ms_p50", "ms"), ("queries.jobs_per_query", "count"),
     ("queries.tasks_per_query", "count"),
     ("queries.empty_task_frac", "ratio"),
     ("spark.codegen_compiles", "count"), ("spark.codegen_compile_s", "s")] +
    [("queries.%s.s" % o, "s") for o in REGISTRY_OBJECTS])

EXPECTED = os.path.join(HERE, "expected.json")
# largest |span walls + iteration self time - iteration wall| / wall a
# traced run accepts (see "Tracing" in NOTES.md)
RECONCILE_MAX = 0.05


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """The tier-1 formula: half the RAM in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def _jvm(classpath, main, args, log, timeout):
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + build.jvm_options() +
           ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(tmp, "spark-local"),
            "-Dderby.system.home=" + tmp,
            "-cp", classpath, main] + args)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=build.OUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("%s timed out after %ds (log: %s)"
                               % (main, timeout, log))
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("%s exited %d:\n%s" % (main, rc, tail))


def methyl_inputs(seed):
    """(input dir, input record), generated once per seed and size."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read() + repr(COHORT).encode()).hexdigest()
    base = os.path.join(build.OUT, "inputs", "methyl_cohort",
                        "seed-%d-%s" % (seed, key[:12]))
    done = os.path.join(base, "record.json")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        rec = gen.write_methyl_cohort(os.path.join(base, "main"), seed,
                                      **COHORT)
        with open(done, "w") as f:
            json.dump(rec, f, sort_keys=True)
    with open(done) as f:
        return os.path.join(base, "main"), json.load(f)


def perturb_seed(seed):
    """SeedPerturb accepts seeds 1..1000."""
    return (seed - 1) % 1000 + 1


# ---------------------------------------------------------------- checks

def _digest(obj):
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()
                          ).hexdigest()[:24]


def check_methyl(iterations, truth):
    """(failures, digest per iteration) from the planted truth."""
    planted = set(truth["dmps"])
    dmr = truth["dmr"]
    fails, digests = [], []
    for it in iterations:
        o = it["observed"]
        if not o:
            digests.append(None)
            continue
        recall = len(planted & set(o["sig_dmps"])) / len(planted)
        covered = sum(n for c, s, e, n in o["sig_dmr"]
                      if c == dmr["chromosome"] and e >= dmr["start"]
                      and s <= dmr["end"])
        tag = "iteration %d: " % it["iter"]
        if recall < 0.95:
            fails.append(tag + "DMP recall %.3f < 0.95" % recall)
        if covered * 2 < len(dmr["probes"]):
            fails.append(tag + "significant DMR segments cover %d of %d "
                         "planted block probes" % (covered, len(dmr["probes"])))
        if o["betas_rows"] != len(truth["groups"]) * o["betas_probes"]:
            fails.append(tag + "betas are not one row per (sample, probe)")
        digests.append(_digest([o["sig_dmps"], o["sig_dmr"], o["betas_rows"],
                                o["poobah_masked"]]))
    return fails, digests


def check_registry(iterations):
    """(failures, {query: [rows, digest]} of the first clean pass)."""
    fails, first = [], None
    for it in iterations:
        got = {}
        for q in it["observed"].get("queries", []):
            if "error" in q:
                fails.append("pass %d: %s threw %s"
                             % (it["iter"], q["name"], q["error"]))
            else:
                got[q["name"]] = [q["rows"], q["digest"]]
        if first is None:
            first = got
        for name, v in got.items():
            if first.get(name, v) != v:
                fails.append("pass %d: %s changed from %s to %s"
                             % (it["iter"], name, first[name], v))
    return fails, first or {}


def compare_record(workload, seed, observed, record):
    """Failures against the record made at the seed commit, if it has
    this seed; one failure per differing entry."""
    want = record.get(workload, {}).get(str(seed))
    if want is None:
        return []
    if workload == "methyl_cohort":
        return ([] if observed == want else
                ["output digest %s, recorded %s" % (observed, want)])
    return ["%s: %s, recorded %s" % (q, observed.get(q), v)
            for q, v in sorted(want.items()) if observed.get(q) != v]


# --------------------------------------------------------------- metrics

def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res):
    its = res["iterations"]
    vals = {
        "setup_s": statistics.median(res["setups_s"]),
        "iteration_s": statistics.median(i["wall_s"] for i in its),
        "heap_retained_mb": max(i["heap_mb"] for i in its),
    }
    return {k: _m(v, END_TO_END[k]) for k, v in vals.items()}


def iteration_self_s(it, spans):
    """The iteration's driver time outside its spans: its epoch-clock
    bounds minus the union of its spans' epoch-clock intervals."""
    mine = [(s["start_ms"], s["end_ms"]) for s in spans
            if s["iter"] == it["iter"]]
    return stats.self_time((it["start_ms"], it["end_ms"]), mine) / 1e3


def reconcile_frac(iterations, spans):
    """Largest |sum of span walls + self time - iteration wall| / wall.
    Span and iteration walls come from the monotonic clock, self time
    from the epoch clock: nested or overlapping spans, or clocks that
    disagree, make it large."""
    worst = 0.0
    for i in iterations:
        covered = sum(s["wall_s"] for s in spans if s["iter"] == i["iter"])
        worst = max(worst, abs(covered + iteration_self_s(i, spans)
                               - i["wall_s"]) / i["wall_s"])
    return worst


def per_layer(res):
    jobs_by_tag = {}
    for j in res["trace"]["jobs"]:
        end = j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"]
        jobs_by_tag.setdefault(j["tag"], []).append((j["start_ms"], end))
    rows = []  # one per span occurrence
    for s in res["spans"]:
        tag = "pb.%d.%s" % (s["iter"], s["name"])
        t = res["trace"]["tags"].get(tag, {})
        jobs = jobs_by_tag.get(tag, [])
        rows.append(dict(
            t, name=s["name"], iter=s["iter"], parent=s["parent"],
            wall_s=s["wall_s"], jobs=len(jobs),
            self_s=stats.self_time((s["start_ms"], s["end_ms"]), jobs) / 1e3))

    def med(name, field):
        vs = [r.get(field, 0.0) for r in rows if r["name"] == name]
        return statistics.median(vs) if vs else 0.0

    out = {}
    for name in METHYL_SPANS:
        for f in SPAN_FIELDS:
            out["%s.%s" % (name, f)] = med(name, f)
    out["prep.poobah.storage_mb"] = med("prep.poobah", "storage_mb")

    its = res["iterations"]
    it_self = [iteration_self_s(i, res["spans"]) for i in its]
    out["iteration.wall_s"] = statistics.median(i["wall_s"] for i in its)
    out["iteration.self_s"] = statistics.median(it_self)
    out["iteration.reconcile_frac"] = reconcile_frac(its, res["spans"])
    calls = [r["wall_s"] * 1e3 for r in rows]
    out["calls.p50_ms"] = stats.percentile(calls, 50)
    tail = stats.tail_percentile(calls)
    sys.stderr.write("calls: %d samples, p50 %.1f ms, %s\n" % (
        len(calls), out["calls.p50_ms"],
        "p%s %.1f ms" % tail if tail else "no tail percentile (< 20)"))
    out["calls.samples"] = len(calls)
    out["jvm.gc_s"] = res["gc_s"]

    # registry: per-query layers (0 on a workload without query spans)
    construct = {(i["iter"], q["name"]): q.get("construct_s", 0.0) * 1e3
                 for i in its for q in i["observed"].get("queries", [])}
    qrows = [r for r in rows if r["parent"] in REGISTRY_OBJECTS]
    for k in PER_LAYER:
        if k.startswith("queries."):
            out[k] = 0.0
    if qrows:
        c = [construct.get((r["iter"], r["name"]), 0.0) for r in qrows]
        tasks = [r.get("tasks", 0) for r in qrows]
        out["queries.construct_ms_p50"] = statistics.median(c)
        out["queries.action_ms_p50"] = statistics.median(
            r["wall_s"] * 1e3 - ci for r, ci in zip(qrows, c))
        out["queries.self_ms_p50"] = statistics.median(
            r["self_s"] * 1e3 for r in qrows)
        out["queries.jobs_per_query"] = statistics.mean(r["jobs"] for r in qrows)
        out["queries.tasks_per_query"] = statistics.mean(tasks)
        out["queries.empty_task_frac"] = (
            sum(r.get("empty_tasks", 0) for r in qrows) / max(1, sum(tasks)))
        for o in REGISTRY_OBJECTS:
            out["queries.%s.s" % o] = statistics.median(
                sum(r["wall_s"] for r in qrows
                    if r["parent"] == o and r["iter"] == i["iter"])
                for i in its)
    out["spark.codegen_compiles"] = res["codegen"]["compiles"]
    out["spark.codegen_compile_s"] = res["codegen"]["compile_s"]
    return {k: _m(out[k], PER_LAYER[k]) for k in PER_LAYER}


# ------------------------------------------------------------------ main

def registry_inputs(classpath, seed, work, log):
    """The sf0.01 copy for ``seed``: the fixture itself for the base seed,
    else its SeedPerturb copy, cached per seed and written on a miss by a
    JVM of its own (SeedPerturb leaves its marker file last)."""
    if seed == REGISTRY_BASE_SEED:
        return os.path.join(HERE, "data", "sf0.01")
    out = os.path.join(build.OUT, "inputs", "registry_small",
                       "seed-%d" % seed)
    if not os.path.exists(os.path.join(
            out, "_GRAFT_SEEDPERTURB_%d" % perturb_seed(seed))):
        _jvm(classpath, "perfbench.Perturb",
             [os.path.join(HERE, "data", "sf0.01"), out,
              str(perturb_seed(seed)), work, str(cpus())],
             log, RUN_TIMEOUT_S // 3)
    return out


def run(workload, seed, seconds, trace):
    classpath = build.build()
    work = os.path.join(build.OUT, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(build.OUT, "logs", "%s-%d-%d.log"
                       % (workload, seed, trace))
    os.makedirs(os.path.dirname(log), exist_ok=True)
    t0 = time.monotonic()
    if workload == "methyl_cohort":
        main, rec = methyl_inputs(seed)
    else:
        main = registry_inputs(classpath, seed, work, log + ".gen")
    _jvm(classpath, "perfbench.Main",
         [workload, main, work, str(seconds), str(trace), str(cpus()), out],
         log, max(1, RUN_TIMEOUT_S - int(time.monotonic() - t0)))
    if workload == "registry_small":
        rec = gen.record(main)
    with open(out) as f:
        res = json.load(f)
    res["inputs"] = rec
    with open(os.path.join(build.OUT, "logs", "%s-%d-%d.result.json"
                           % (workload, seed, trace)), "w") as f:
        json.dump(res, f)

    fails = []
    if workload == "methyl_cohort":
        with open(os.path.join(main, "truth.json")) as f:
            truth = json.load(f)
        check_fails, digests = check_methyl(res["iterations"], truth)
        fails += check_fails
        if len(set(digests)) > 1:
            fails.append("output digest differs between iterations: %s"
                         % digests)
        observed = digests[0]
    else:
        check_fails, observed = check_registry(res["iterations"])
        fails += check_fails
    with open(EXPECTED) as f:
        record = json.load(f)
    fails += compare_record(workload, seed, observed, record)
    if trace:
        metrics = per_layer(res)
        frac = metrics["iteration.reconcile_frac"]["value"]
        if frac > RECONCILE_MAX:
            fails.append("span walls and self time miss the iteration "
                         "wall by %.3f > %.2f" % (frac, RECONCILE_MAX))
    else:
        metrics = end_to_end(res)
    for msg in fails:
        print("check failed: " + msg, file=sys.stderr)

    for msg in res["errors"]:
        print("error: " + msg, file=sys.stderr)
    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed"]) + len(fails))
    sys.stderr.write("inputs: %d files, %d bytes; iterations: %d\n" % (
        len(rec["files"]), sum(v["bytes"] for v in rec["files"].values()),
        len(res["iterations"])))
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    stats.validate_names(END_TO_END, PER_LAYER)
    # the build's javaOptions read the heap from SPARK_DRIVER_MEM
    os.environ["SPARK_DRIVER_MEM"] = heap()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace)
    except (build.BuildError, RuntimeError, OSError) as e:
        sys.exit("perfbench: %s" % e)
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
