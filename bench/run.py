#!/usr/bin/env python3
"""The graft benchmark: one command per workload and seed.

    python3 bench/run.py --workload enrich_stream --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. It builds graft and the benchmark
harness from source (cached in .bench_build/), generates the seeded inputs
(cached per seed in .bench_data/), runs the workload through graft's public
entry points in one JVM, checks every output against the generator's ground
truth, and prints one JSON line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(see bench/METRICS.md). The exit code is 0 only when every check passed.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
WORK = os.path.join(ROOT, ".bench_work")
LIMIT_S = 170          # a run must end within this, build excluded
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "3g"

# Input sizes per workload. Fixed: a run measures more or less time, never
# a different input.
SIZES = {
    "enrich_stream": {"rate": 1000, "interval_s": 0.25, "drain_events": 4000,
                      "drain_rounds": 3, "n_warm": 3000},
    "corpus_dedup": {"n_docs": 4000, "n_warm": 4000},
}

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "1/s"),
    ("latency_p50_s", "s"), ("latency_p99_s", "s"),
    ("output_bytes_per_row", "B"), ("peak_heap_mb", "MB"),
]

STAGES = ["TrackerTransform", "DerivedTstamp", "PageUrlParse", "CampaignAttribution",
          "RefererParser", "UaParser", "IpGeoLookup", "CurrencyConversion", "CrossNavigation",
          "AnonIp", "PiiPseudonymize", "EventFingerprint", "FieldLengthValidator"]

PER_LAYER = (
    [("sources.read_s", "s"), ("sources.bytes_read", "B"), ("sources.read_amplification", "ratio"),
     ("enrich.protocol_s", "s")]
    + [("enrich.stage.%s_s" % s, "s") for s in STAGES]
    + [("enrich.chain_s", "s"), ("enrich.badrows_envelope_s", "s"), ("enrich.bad_rows", "count"),
       ("enrich.failure_entities", "count"),
       ("sinks.write_s", "s"), ("sinks.bytes_written", "B"), ("sinks.files_written", "count"),
       ("streaming.batches", "count"), ("streaming.batch_s_p50", "s"), ("streaming.planning_s", "s"),
       ("streaming.add_batch_s", "s"), ("streaming.queries", "count"), ("streaming.state_rows", "count"),
       ("streaming.state_bytes", "B"), ("streaming.dups_absorbed", "count"),
       ("streaming.backlog_files_max", "count"),
       ("corpus.gate_s", "s"), ("corpus.pairs_s", "s"), ("operators.cc_s", "s"),
       ("corpus.decontam_s", "s"), ("operators.cc.edges_in", "count"),
       ("corpus.candidate_pairs", "count"), ("corpus.pair_precision", "ratio"),
       ("corpus.near_dup_recall", "ratio"),
       ("engine.cpu_s", "s"), ("engine.gc_s", "s"), ("engine.shuffle_write_bytes", "B"),
       ("engine.spill_bytes", "B"), ("engine.tasks", "count"), ("engine.stage_skew_max", "ratio"),
       ("engine.cpu_utilization", "ratio"), ("engine.scaling_1_to_n", "ratio"),
       ("bench.generator_lag_s", "s"), ("bench.tracing_overhead_s", "s")])

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print("bench: " + msg, file=sys.stderr)
    sys.exit(code)


# ---- build ---------------------------------------------------------------

def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the unmanagedBase the repo's
    build.sbt names."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
            if m:
                cands.append(m.group(1))
    except OSError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    die("no Spark jars found (set SPARK_HOME)")


def build(jars):
    """Compile graft's main sources and the harness into one class dir;
    skipped when no source changed since the last build."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        die("no graft sources under src/main/scala: run from the root of a graft checkout")
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log = os.path.join(BUILD, "build.log")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + srcs
    with open(log, "w") as out:
        if subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT).returncode != 0:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            die("build failed (see %s)" % log, 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# ---- inputs --------------------------------------------------------------

def inputs(workload, seed, seconds):
    params = dict(SIZES[workload])
    if workload == "enrich_stream":
        params["seconds"] = seconds
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
    d = os.path.join(DATA, workload, "seed%d-%s" % (seed, key))
    if os.path.exists(os.path.join(d, "done")):
        return d
    tmp = d + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    getattr(gen, workload)(tmp, seed, **params)
    open(os.path.join(tmp, "done"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


# ---- JVM -----------------------------------------------------------------

def run_jvm(classes, jars, workload, data, work, seconds, trace, deadline):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Harness",
              "--workload", workload, "--data", data, "--work", work, "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--cores", str(CORES), "--result", result])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work, env=env,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
        die("harness failed (%s)" % code, 1)
    with open(result) as f:
        return json.load(f)


# ---- checks --------------------------------------------------------------

class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def count(self, attempted, failed, what):
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append("%s: %d of %d" % (what, failed, attempted))


def recorded_digest(data, name, value, checks, weight):
    """The first run on a seed records its output digest; every later run on
    that seed must reproduce it."""
    path = os.path.join(data, "digest-%s.json" % name)
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        checks.count(weight, 0 if want == value else weight, "digest %s differs from the recorded one" % name)
    else:
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)


def check_enrich(res, data, checks):
    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)
    n = truth["events"]
    first = res["outputs"][0]
    bad_truth = truth["bad_entities"]
    good_want = set(range(truth["eid_min"], truth["eid_max"] + 1)) - {int(e) for e in bad_truth}
    good = first["good_eids"]
    gs = set(good)
    wrong_good = len(good_want - gs) + len(gs - good_want) + (len(good) - len(gs))
    checks.count(n, wrong_good, "events missing from or wrongly in the good output")
    bad = first["bad_entities"]
    n_bad_rows = int(first["bad_digest"].split(":")[0])
    wrong_bad = sum(1 for e, ents in bad_truth.items() if bad.get(e) != ents)
    wrong_bad += len(set(bad) - set(bad_truth)) + abs(n_bad_rows - len(bad))
    checks.count(len(bad_truth), wrong_bad, "bad rows whose failure entities differ from the truth")
    for i, o in enumerate(res["outputs"][1:], 1):
        same = o["good_digest"] == first["good_digest"] and o["bad_digest"] == first["bad_digest"]
        checks.count(n, 0 if same else n, "run %d output digest differs from run 0" % i)
    if "reference" in res:
        ref = res["reference"]
        same = ref["good_digest"] == first["good_digest"] and ref["bad_digest"] == first["bad_digest"]
        checks.count(n, 0 if same else n, "stream output differs from batch output over the same events")
    recorded_digest(data, "output", [first["good_digest"], first["bad_digest"]], checks, n)
    return n


def check_corpus(res, data, checks):
    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)
    rows = {int(k): v for k, v in truth["rows"].items()}   # keeper, family, gate, bench, contaminated
    n = len(rows)
    first = res["outputs"][0]
    shipped = first["doc_ids"]
    eligible = {d for d, (keeper, _, ok, bench, cont) in rows.items()
                if keeper == d and ok and not bench and not cont}
    checks.count(n, len(shipped) - len(set(shipped)), "docs shipped twice")
    checks.count(n, len(set(shipped) - eligible), "shipped docs that are dups, gated, bench or contaminated")
    groups = [rows[d][0] for d in shipped]
    checks.count(n, len(groups) - len(set(groups)), "shipped docs sharing a fingerprint")
    checks.count(n, sum(1 for d in shipped if rows[d][3]), "bench-slice docs shipped")
    # near-duplicate clusters: connected components of the candidate pairs
    # over the whole corpus; of each, only the smallest doc_id may ship
    comp = components(res["pairs"])
    want = {d for d in eligible if comp.get(d, d) == d}
    checks.count(n, len(want ^ set(shipped)), "shipped docs differing from the expected set")
    for i, o in enumerate(res["outputs"][1:], 1):
        checks.count(n, 0 if o["digest"] == first["digest"] else n,
                     "run %d output digest differs from run 0" % i)
    recorded_digest(data, "output", first["digest"], checks, n)
    return n


def components(pairs):
    """doc_id -> smallest doc_id connected to it through the pairs."""
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def pair_quality(res, data):
    """Candidate-pair precision (pairs inside one designed duplicate family
    over all candidate pairs) and recall (family pairs that the candidate
    graph connects over all family pairs)."""
    with open(os.path.join(data, "truth.json")) as f:
        rows = {int(k): v for k, v in json.load(f)["rows"].items()}
    pairs = res.get("pairs", [])
    fam = {d: r[1] for d, r in rows.items()}
    true = sum(1 for a, b in pairs if fam[a] == fam[b])
    comp = components(pairs)
    members = {}
    for d, f_ in fam.items():
        members.setdefault(f_, []).append(d)
    total = found = 0
    for ms in members.values():
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                total += 1
                found += comp.get(ms[i], ms[i]) == comp.get(ms[j], ms[j])
    return (true / len(pairs) if pairs else 0.0), (found / total if total else 0.0)


# ---- metrics -------------------------------------------------------------

def percentile(samples, q):
    """Weighted nearest-rank percentile of (value, weight) samples."""
    samples = sorted(samples)
    total = sum(w for _, w in samples)
    acc = 0
    for v, w in samples:
        acc += w
        if acc >= q * total:
            return v
    return samples[-1][0]


def end_to_end(workload, res, rows):
    walls = res["walls"]
    m = {"setup_s": res["setup_s"],
         "wall_s": statistics.median(walls),
         "peak_heap_mb": res["peak_heap_mb"]}
    if workload == "enrich_stream":
        # open loop at a fixed rate: each event timed from when its file was
        # due until both sinks committed it; rows_per_s is the rate at which
        # the stream clears a standing backlog
        lat = res["latencies"]
        m["rows_per_s"] = statistics.median(r / w for r, w in zip(res["drain_records"], walls))
    else:
        # every record of a run is due when the run starts and committed
        # when it ends
        lat = [(w, rows) for w in walls]
        m["rows_per_s"] = rows / m["wall_s"]
    m["latency_p50_s"] = percentile(lat, 0.50)
    m["latency_p99_s"] = percentile(lat, 0.99)
    m["output_bytes_per_row"] = statistics.median(res["output_bytes"]) / rows
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END}


def per_layer(workload, res, data):
    layers = dict(res["layers"])
    if workload == "corpus_dedup":
        layers["corpus.pair_precision"], layers["corpus.near_dup_recall"] = pair_quality(res, data)
    # a layer the workload never enters did no work: 0
    return {k: {"value": layers.get(k, 0), "unit": u} for k, u in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources in %s: run from the root of a graft checkout" % ROOT)
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    start = time.time()
    data = inputs(a.workload, a.seed, a.seconds)
    work = os.path.join(WORK, "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classes, jars, a.workload, data, work, a.seconds, a.trace, start + LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass   # another run still works there

    checks = Checks()
    check = check_corpus if a.workload == "corpus_dedup" else check_enrich
    rows = check(res, data, checks)
    if a.trace:
        metrics = per_layer(a.workload, res, data)
        with open(os.path.join(DATA, "trace-%s-%d.json" % (a.workload, a.seed)), "w") as f:
            f.write(res["trace"])
    else:
        metrics = end_to_end(a.workload, res, rows)
    for note in checks.notes:
        print("bench: check failed: " + note, file=sys.stderr)
    # the raw harness result of the last run, for inspection
    with open(os.path.join(DATA, "last-%s-trace%d.json" % (a.workload, a.trace)), "w") as f:
        json.dump(res, f)
    correct = checks.failed == 0
    print(json.dumps({"correct": correct, "attempted": checks.attempted, "failed": checks.failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
