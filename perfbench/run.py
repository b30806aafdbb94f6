"""The split engine's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload corpus_split --seed 1 --seconds 10 --trace 0

Workloads (inputs are generated from the seed; see perfbench/README.md):
  osm_planet    app.OsmSplit.run, seeded planet .pbf in, .o5m tiles out
  corpus_split  app.Main.run, all four phases over the interleaved corpus
  corpus_areas  app.Main.run --stop-after=split over a larger corpus
  catalog       the query catalog (SparkEntry.queries) over seeded tables

The run builds the engine from source if needed (perfbench/build.py),
starts one JVM at local[nproc], and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import catalog

ROOT = build.ROOT
WORKLOADS = ["osm_planet", "corpus_split", "corpus_areas", "catalog"]
CATALOG_SF = 0.01
DEADLINE_S = 170
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def cpus():
    return len(os.sched_getaffinity(0))


def quantile(xs, q):
    """The q-th quantile (0 < q < 1) by statistics.quantiles' default method."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    cuts = statistics.quantiles(xs, n=100)
    return cuts[round(q * 100) - 1]


def summarize(raw, catalog_errors=None):
    """Turns the JVM's raw samples into (correct, attempted, failed,
    end-to-end values, per-layer values). A failed operation, or one whose
    output check fails, counts in `failed` and never in a latency."""
    jobs = raw["jobs"]
    catalog_errors = catalog_errors or {}
    attempted = failed = 0
    warm_ops, warm_jobs = [], []
    for i, job in enumerate(jobs):
        ok_ops = []
        for name, sec, ok in job["ops"]:
            attempted += 1
            good = ok and job["checked_ok"] and not catalog_errors.get(name)
            if good:
                ok_ops.append(sec)
            else:
                failed += 1
        if i > 0 and ok_ops:
            warm_ops.extend(ok_ops)
            warm_jobs.append((sum(ok_ops), job["shuffle_write_mb"]))
    first_ok = [sec for name, sec, ok in jobs[0]["ops"]
                if ok and jobs[0]["checked_ok"] and not catalog_errors.get(name)]
    correct = failed == 0 and not raw["errors"] and bool(warm_jobs)
    e2e, layers = {}, {}
    if warm_jobs:
        job_s = statistics.median(j[0] for j in warm_jobs)
        e2e = {
            "setup_s": statistics.median(raw["setups"]),
            "first_job_s": sum(first_ok),
            "job_s": job_s,
            "rows_per_s": raw["input_rows"] / job_s,
            "query_p50_s": quantile(warm_ops, 0.50),
            "query_p75_s": quantile(warm_ops, 0.75),
            "shuffle_write_mb": statistics.median(j[1] for j in warm_jobs),
            "heap_peak_mb": raw["heap_peak_mb"],
            "success_frac": (attempted - failed) / attempted,
        }
        if raw["trace"]:
            layers = dict(raw["trace"])
            layers["setup.cold_s"] = raw["setups"][0]
            layers["trace.overhead_s"] = layers.pop("traced_total_s") - job_s
    return correct, attempted, failed, e2e, layers


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(args, work, classes, extra, t0):
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + JVM_OPENS
           + ["-cp", build.classpath(classes), "perfbench.Run",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--cpus", str(cpus())] + extra)
    log = work / "jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(DEADLINE_S - (time.time() - t0), 10))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: the run passed its {DEADLINE_S} s deadline")
        finally:  # never leave the JVM running, whatever ended the wait
            if proc.poll() is None:
                proc.kill()
                proc.communicate()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines or json.loads(lines[-1][len("PERFBENCH "):])["errors"]:
        tail = [l for l in log.read_text().splitlines()
                if not l.lstrip().startswith("at ")][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"perfbench: the JVM exited with {proc.returncode}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    p.add_argument("--inject-failure", action="store_true",
                   help="catalog only: add a query that always fails")
    args = p.parse_args(argv)

    classes = build.build()
    t0 = time.time()  # the deadline counts from the end of the build
    work = build.BUILD_DIR / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        extra = []
        if args.workload == "catalog":
            counts = catalog.generate(str(work / "data"), CATALOG_SF, args.seed)
            extra = ["--data", str(work / "data"), "--rows", str(sum(counts.values()))]
        if args.inject_failure:
            extra.append("--inject-failure")
        raw = run_jvm(args, work, classes, extra, t0)
        errors = None
        if args.workload == "catalog":
            errors = catalog.check(str(work / "data"), raw["jobs"][0]["out"], raw["oracles"])
            for name, err in sorted(errors.items()):
                if err:
                    sys.stderr.write(f"{name}: {err}\n")
        for e in raw["errors"]:
            sys.stderr.write(e + "\n")
        sys.stderr.write("job seconds: " + " ".join(f"{j['seconds']:.3f}" for j in raw["jobs"])
                         + "; set-ups: " + " ".join(f"{s:.3f}" for s in raw["setups"])
                         + f"; inputs {raw['prepare_s']:.1f} s, checks {raw['check_s']:.1f} s\n")
        correct, attempted, failed, e2e, layers = summarize(raw, errors)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared_metrics(args.trace)}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
