#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily|corpus_dedup \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the library and the harness
from source into ``.bench_build/`` (once per source change), generates
the workload's inputs from the seed, runs one harness JVM (set-up, first
pass, steady passes for ``--seconds``), checks every pass's output, and
prints the metrics. The last line of stdout is one JSON object; with
``--trace 0`` it carries the end-to-end metrics, with ``--trace 1`` the
per-layer metrics. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import inputs  # noqa: E402
from build import BUILD, SPARK_JARS, build, fail  # noqa: E402

ROOT = os.getcwd()
DEADLINE_S = 170

CORPUS_QUERIES = ["q_training_prep_v2", "q_corpus_clean", "q_ngram_jaccard",
                  "q_doc_containment", "q_simhash_pairs", "q_tfidf_cosine_topk",
                  "q_dedup_clusters", "q_stream_dedup"]

WORKLOADS = {
    "etl_daily": ("etl", {"hosts": 20, "ifaces": 2, "slices": 12, "apps": 20, "points": 10}),
    "corpus_dedup": ("corpus", {"base_docs": 100, "copies": 10, "sf": 0.01}),
}

JVM_OPTS = [
    # no hsperfdata file in the system temp directory
    "-XX:-UsePerfData",
    "-Xmx8g", "-Xss8m", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                 "java.nio", "java.util", "java.util.concurrent",
                 "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                 "sun.security.action", "sun.util.calendar")
     for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Value at the highest percentile with at least 10 samples beyond it,
    and that percentile; None with 10 samples or fewer."""
    xs = sorted(xs)
    if len(xs) <= 10:
        return None, None
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


def per_layer(passes):
    """Per-layer metrics: per-pass sums (peak memory: max), median over
    the traced steady passes."""
    rows = []
    for p in passes:
        calls = p["calls"]
        by = {c["name"]: c for c in calls}
        tot = lambda k: sum(c.get(k) or 0 for c in calls)  # noqa: E731
        pairs_rows = sum(c.get("rows") or 0 for c in calls if c.get("self_join_rows"))
        sj = tot("self_join_rows")
        m = {
            "pipelines.XmlIngest.run_s": by.get("pipelines.XmlIngest.run", {}).get("wall_s", 0.0),
            "pipelines.MySqlIngest.run_s": by.get("pipelines.MySqlIngest.run", {}).get("wall_s", 0.0),
            "pipelines.Enrich.run_s": by.get("pipelines.Enrich.run", {}).get("wall_s", 0.0),
            "io.PartitionedWriter.maxPartition_s":
                by.get("io.PartitionedWriter.maxPartition", {}).get("wall_s", 0.0),
            "io.Sources.jdbcPushdown_s": tot("io.Sources.jdbcPushdown_s"),
            "io.PartitionedWriter.enrich_partitions": tot("io.PartitionedWriter.enrich_partitions"),
            "phase.build_s": tot("build_s"), "phase.plan_s": tot("plan_s"),
            "phase.exec_s": tot("exec_s"),
            "engine.jobs": tot("jobs"), "engine.build_jobs": tot("build_jobs"),
            "engine.stages": tot("stages"), "engine.tasks": tot("tasks"),
            "engine.task_wait_s": tot("task_wait_s"), "engine.failed_tasks": tot("failed_tasks"),
            "engine.shuffle_write_mb": tot("shuffle_write_mb"), "engine.spill_mb": tot("spill_mb"),
            "engine.peak_exec_mem_mb": max([c.get("peak_exec_mem_mb") or 0 for c in calls] or [0]),
            "engine.task_cpu_s": tot("task_cpu_s"),
            "pairs.useful_ratio": pairs_rows / sj if sj else 0.0,
            "codegen.compiles": tot("compiles"), "codegen.compile_s": tot("compile_s"),
            "io.bytes_written": tot("bytes_written"), "io.files_written": tot("files_written"),
            "io.bytes_read": tot("bytes_read"),
            "streaming.batches": tot("batches"), "streaming.addBatch_s": tot("addBatch_s"),
            "streaming.walCommit_s": tot("walCommit_s"), "streaming.trigger_s": tot("trigger_s"),
        }
        rows.append(m)
    return {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}


def layer_table(passes):
    """Per-call medians over the traced steady passes, as text."""
    cols = ["wall_s", "build_s", "plan_s", "exec_s", "jobs", "build_jobs", "tasks",
            "shuffle_write_mb", "task_cpu_s", "compiles", "compile_s", "self_join_rows", "batches"]
    names = [c["name"] for c in passes[0]["calls"]]
    lines = ["call".ljust(36) + "".join(c.rjust(17) for c in cols)]
    for n in names:
        vals = [median([next((c.get(k) or 0) for c in p["calls"] if c["name"] == n)
                        for p in passes]) for k in cols]
        lines.append(n.ljust(36) + "".join(f"{v:17.4f}" if isinstance(v, float) else f"{v:17d}"
                                           for v in vals))
    return "\n".join(lines)


def main():
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    classes = build()
    kind, sizes = WORKLOADS[a.workload]
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(work)

    # set-up part 1: seeded input generation, three times, median
    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        inputs.generate(kind, data, a.seed, sizes)
        gen_s.append(time.perf_counter() - t0)
    queries = ",".join(CORPUS_QUERIES) if a.workload == "corpus_dedup" else ""

    cp = ":".join([classes, os.path.join(ROOT, "src/main/resources"), os.path.join(SPARK_JARS, "*")])
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={work}/derby.log", "-cp", cp, "graftbench.Harness",
        f"workload={a.workload}", f"inputs={data}", f"work={work}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"queries={queries}"]
    os.makedirs(f"{work}/tmp")
    left = DEADLINE_S - (time.monotonic() - t_start)
    with open(f"{work}/jvm.log", "w") as log:
        jvm = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = jvm.wait(timeout=left)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {DEADLINE_S} s; log: {work}/jvm.log")
        finally:  # also on SIGTERM: never leave the JVM behind
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
    if code != 0 or not os.path.exists(f"{work}/result.json"):
        print(open(f"{work}/jvm.log").read()[-4000:], file=sys.stderr)
        fail(f"harness exited with {code}")
    res = json.load(open(f"{work}/result.json"))
    passes = res["passes"]

    # output gate, outside every timed region
    t0 = time.perf_counter()
    if a.workload == "etl_daily":
        failed_checks = checks.etl(data, work, passes)
    else:
        failed_checks = checks.queries(data, work, passes, CORPUS_QUERIES)
    gate_s = time.perf_counter() - t0
    calls = [c for p in passes for c in p["calls"]]
    failed_calls = [f"pass {p['index']} {c['name']}: {c['error']}"
                    for p in passes for c in p["calls"] if c["error"]]
    for f in failed_calls + failed_checks:
        print("FAIL", f)
    attempted = len(calls)
    failed = len(failed_calls) + len(failed_checks)

    steady = passes[1:]
    untraced = [p for p in steady if not p["traced"]] or steady
    walls = [c["wall_s"] for p in untraced for c in p["calls"]]
    tail_v, tail_pct = tail(walls)
    setup = res["setup"]
    e2e = {
        "wall_s": (median([p["wall_s"] for p in untraced]), "s"),
        "first_pass_s": (passes[0]["wall_s"], "s"),
        "setup_s": (median(gen_s) + setup["session_s"] + setup["stages_s"] + setup["warmup_s"], "s"),
        "query_p50_s": (median(walls), "s"),
        "query_tail_s": (tail_v, "s"),
        "write_amp": (median([checks.output_bytes(work, p) for p in untraced])
                      / checks.input_bytes(data), "ratio")
        if a.workload == "etl_daily" else (None, "ratio"),
        "error_rate": (failed / attempted, "ratio"),
    }
    print(f"workload {a.workload} seed {a.seed}: {len(passes)} passes, {len(calls)} calls, "
          f"steady pass walls " + " ".join(f"{p['wall_s']:.3f}" for p in untraced)
          + " (untimed gaps " + " ".join(f"{p['elapsed_s'] - p['wall_s']:.3f}" for p in passes) + ")"
          + f"; set-up: inputs {median(gen_s):.3f} s, " + ", ".join(
              f"{k} {v:.3f} s" for k, v in setup.items()) + f"; gate {gate_s:.3f} s")
    for k, (v, u) in e2e.items():
        note = {"query_p50_s": f"  ({len(walls)} calls)",
                "query_tail_s": f"  (p{tail_pct:.1f} of {len(walls)} calls)" if tail_pct
                else f"  (only {len(walls)} calls)"}.get(k, "")
        print(f"metric {k} = {'n/a' if v is None else f'{v:.6g}'} {u}{note}")

    if a.trace:
        traced = [p for p in steady if p["traced"]]
        layers = per_layer(traced)
        layers["codegen.first_pass_compiles"] = sum(c.get("compiles") or 0 for c in passes[0]["calls"])
        layers["codegen.first_pass_compile_s"] = sum(c.get("compile_s") or 0 for c in passes[0]["calls"])
        layers["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                                      - median([p["wall_s"] for p in steady if not p["traced"]]))
        table = layer_table(traced)
        out = os.path.join(BUILD, "trace", a.workload)
        os.makedirs(out, exist_ok=True)
        shutil.copy(f"{work}/spans.jsonl", f"{out}/spans.jsonl")
        with open(f"{out}/layers.txt", "w") as f:
            f.write(table + "\n\n" + "\n".join(f"{k} {v}" for k, v in layers.items()) + "\n")
        print(table)
        for k, v in layers.items():
            print(f"layer {k} = {v:.6g}")
        print(f"spans: {out}/spans.jsonl")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    shutil.copy(f"{work}/jvm.log", os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}.log"))
    if not failed:  # a failing run keeps its inputs and outputs
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
