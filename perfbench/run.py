#!/usr/bin/env python3
"""graft's benchmark: one command that builds graft, prepares seeded
inputs, runs one workload in a closed loop with one client, checks the
outputs against the DuckDB oracle, and prints every metric with its unit.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
`--trace 0` reports the end-to-end metrics; `--trace 1` interleaves
untraced and traced passes and reports the per-layer metrics, the
tracing overhead among them, and writes the spans and per-query Spark
metrics to `.perfbench/results/` in the checkout.
"""
import argparse
import json
import os
import random
import shutil
import sys
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import registry  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle  # noqa: E402
from server import BENCH_DIR, BenchError, Server, build  # noqa: E402

REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench")
# The analytics tables are the same in every run, as fixed test tables
# are; the workload seed orders the queries and, for the corpus
# workloads, generates the corpus.
TABLE_SEED = 42
GEN_REPEATS = 3
MB = 1024 * 1024
ALL_SECTIONS = ["MapReduce", "Extras", "Tera", "Analytics", "Dedup", "Similarity",
                "TextOps", "UnigramLm", "Pipeline", "Multimodal", "EventStreams"]
SCAN_TABLES = ["lineitem", "events", "documents"]
# (metric, SQL over the `docs`/`emb` views, the view the row count comes
# from, rows per view row): 20,000 to 1,000,000 rows per expression at the
# default corpus size.
FUNCTION_SQL = [
    ("minhash_rows_per_s", "SELECT graft_minhash(text, 64, 3) AS v FROM docs, range(20)", "docs", 20),
    ("shingles_rows_per_s", "SELECT graft_shingles(text, 3) AS v FROM docs, range(20)", "docs", 20),
    ("simhash_rows_per_s", "SELECT graft_simhash64(text) AS v FROM docs, range(20)", "docs", 20),
    ("lsh_sign_rows_per_s", "SELECT graft_lsh_sign(embedding, 16, 64) AS v FROM emb, range(50)",
     "emb", 50),
    ("cosine_pairs_per_s", "SELECT graft_cosine(a.embedding, b.embedding) AS v "
     "FROM emb a JOIN emb b ON a.vec_id < 200", "emb", 200),
    ("gensort_rows_per_s", "SELECT graft_gensort_record(id) AS v FROM range(1000000)", None,
     1000000),
]
MICRO_REPEATS = 3


def metric_units(kind):
    """{name: unit} of the "end_to_end" or "per_layer" metrics that
    BENCHMARK.json declares; the report prints exactly these."""
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def steal_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def log(msg):
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


class Trace:
    """Spans kept in memory: name, start, end (seconds from run start),
    parent span and the run's id; written out when the run ends."""

    def __init__(self, run_id, t0):
        self.run_id, self.t0, self.spans = run_id, t0, []

    def add(self, name, start, end, parent=None, **attrs):
        self.spans.append({"id": len(self.spans), "parent": parent, "run": self.run_id,
                           "name": name, "start": start - self.t0, "end": end - self.t0,
                           **attrs})
        return len(self.spans) - 1


class Run:
    def __init__(self, workload, seed, seconds, trace):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.t0 = time.monotonic()
        self.run_id = f"{workload}-{seed}-{int(time.time() * 1000)}"
        self.tracer = Trace(self.run_id, self.t0)
        self.work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
        self.root = os.path.join(self.work, "registry")
        self.queries = workloads.query_list(workload)
        _, self.mode, _ = workloads.WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.server = None

    # -- set-up -------------------------------------------------------------

    def generate(self, out, tables):
        os.makedirs(out)
        if tables:
            inputs.write_tables(out, TABLE_SEED)
        inputs.write_corpus(out, TABLE_SEED if self.mode == "fixed" else self.seed)

    def setup(self, classpath):
        # The corpus workloads read only documents and embeddings; their
        # traced run adds the tables for the scan microbench later.
        gen_s = []
        for i in range(GEN_REPEATS):
            t = time.monotonic()
            self.generate(os.path.join(self.work, "inputs", f"gen{i}"), self.mode == "fixed")
            gen_s.append(time.monotonic() - t)
        self.base = os.path.join(self.work, "inputs", "gen0")
        for i in range(1, GEN_REPEATS):
            shutil.rmtree(os.path.join(self.work, "inputs", f"gen{i}"))
        t = time.monotonic()
        self.server = Server(classpath, len(os.sched_getaffinity(0)), self.root, self.work,
                             os.path.join(self.work, "jvm.log"))
        start_s = time.monotonic() - t
        t = time.monotonic()
        # The output check's dump pass doubles as the JIT warm-up and, on
        # corpus_serve, as the registry prebuild. nightly_build dumps a
        # full build over its own copy and then empties the registry, so
        # every measured pass starts cold.
        self.dump_pass(self.fresh_copy("check") if self.mode == "build" else self.base)
        warm_s = time.monotonic() - t
        log(f"set-up: session {start_s:.1f} s, inputs {gen_s[0]:.1f} s, warm-up {warm_s:.1f} s")
        self.setup_s = start_s + stats.median(gen_s) + warm_s
        self.setup_parts = {"session_start_s": start_s, "input_gen_s": gen_s, "warm_up_s": warm_s}

    def dump_pass(self, d):
        """Write every query's output over inputs `d` as parquet for the
        output check."""
        oracle_path = os.path.join(self.work, "oracle_sql.json")
        self.server.call("oracles", oracle_path)
        with open(oracle_path) as fh:
            self.oracle_sql = json.load(fh)
        self.check_dir, self.dump_errors = d, {}
        for _, q in self.queries:
            r = self.server.call("dump", q, d, os.path.join(self.work, "out", q))
            if not r["ok"]:
                self.dump_errors[q] = r["error"]

    def fresh_copy(self, tag):
        d = os.path.join(self.work, "inputs", tag)
        shutil.copytree(self.base, d)
        return d

    # -- measured passes ----------------------------------------------------

    def one_pass(self, k, traced, parent):
        if self.mode == "build":
            shutil.rmtree(self.root)
            os.makedirs(self.root)
            prev = os.path.join(self.work, "inputs", f"p{k - 1}")
            if os.path.isdir(prev):
                shutil.rmtree(prev)
            d = self.fresh_copy(f"p{k}")
        else:
            d = self.base
        order = list(self.queries)
        self.rng.shuffle(order)
        clock0 = self.server.call("clock")
        marks0, bytes0 = registry.markers(self.root), registry.tree_bytes(self.root)
        records = []
        steal0, read0 = steal_ticks(), self.server.read_bytes()
        t_pass = time.monotonic()
        pass_span = self.tracer.add("pass", t_pass, t_pass, parent, index=k) if traced else None
        for section, q in order:
            before = registry.markers(self.root) if traced else None
            ts = time.monotonic()
            r = self.server.call("query", q, d, f"p{k}:{q}", 0)
            te = time.monotonic()
            r.update(query=q, section=section, start=ts, end=te)
            if traced:
                r["builds"] = registry.builds(before, registry.markers(self.root))
                qspan = self.tracer.add("query", ts, te, pass_span, query=q, section=section,
                                        ok=r["ok"])
                t = ts
                for part in ("construct", "plan", "execute"):
                    if r.get(f"{part}_s") is not None:
                        self.tracer.add(part, t, t + r[f"{part}_s"], qspan, query=q)
                        t += r[f"{part}_s"]
            records.append(r)
        wall = time.monotonic() - t_pass
        steal1, read1 = steal_ticks(), self.server.read_bytes()
        if traced:
            self.tracer.spans[pass_span]["end"] = t_pass + wall - self.t0
        clock1 = self.server.call("clock")
        marks1 = registry.markers(self.root)
        return {"index": k, "traced": traced, "wall_s": wall, "records": records,
                "cpu_s": clock1["cpu_s"] - clock0["cpu_s"],
                "gc_s": clock1["gc_s"] - clock0["gc_s"],
                "builds": registry.builds(marks0, marks1), "read_bytes": read1 - read0,
                # CPU time the machine's hypervisor took from this VM
                "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
                "written_bytes": registry.tree_bytes(self.root) - bytes0,
                "registry_bytes": registry.tree_bytes(self.root), "dir": d}

    def measure(self, run_span):
        """`seconds` ÷ the workload's nominal pass time passes (at least
        one), so every run measures the same passes however fast the box
        is today. A traced run makes an even count in the order untraced,
        traced, traced, untraced, … so the JIT's warm-up trend falls on
        both sides alike."""
        n = max(1, round(self.seconds / workloads.WORKLOADS[self.workload][2]))
        if self.trace:
            n = 2 * max(1, round(n / 2))
        passes = []
        for k in range(n):
            traced = self.trace and k % 4 in (1, 2)
            passes.append(self.one_pass(k, traced, run_span))
            log(f"pass {k}{' (traced)' if traced else ''}: {passes[-1]['wall_s']:.2f} s")
        return passes

    # -- layer microbenches (traced run only) -------------------------------

    def microbench(self, parent):
        def timed(*cmd):
            ts = time.monotonic()
            r = self.server.call(*cmd)
            if not r["ok"]:
                raise BenchError(f"microbench {cmd}: {r['error']}")
            self.tracer.add(cmd[0], ts, time.monotonic(), parent, what=str(cmd[1:3]))
            return r["seconds"]

        out = {}
        scan_mb = scan_s = 0.0
        for t in SCAN_TABLES:
            scan_mb += os.path.getsize(os.path.join(self.base, f"{t}.parquet")) / MB
            scan_s += stats.median([timed("scan", self.base, t, f"scan:{t}")
                                    for _ in range(MICRO_REPEATS)])
        out["sources.scan_mb_per_s"] = scan_mb / scan_s
        rows = {None: 1}
        for view, table in (("docs", "documents"), ("emb", "embeddings")):
            self.server.call("view", view, self.base, table)
            rows[view] = pq.read_metadata(os.path.join(self.base, f"{table}.parquet")).num_rows
        for name, sql, view, factor in FUNCTION_SQL:
            secs = stats.median([timed("sql", f"fn:{name}", sql) for _ in range(MICRO_REPEATS)])
            out[f"functions.{name}"] = rows[view] * factor / secs
        return out

    # -- the whole run ------------------------------------------------------

    def execute(self, classpath):
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.setup(classpath)
        run_span = self.tracer.add("run", self.t0, self.t0, None, workload=self.workload,
                                   seed=self.seed)
        passes = self.measure(run_span)
        layer = {}
        if self.trace:
            if self.mode != "fixed":
                inputs.write_tables(self.base, TABLE_SEED)
            layer.update(self.microbench(run_span))
            counts = []
            for _, q in self.queries:
                r = self.server.call("query", q, passes[-1]["dir"], f"count:{q}", 1)
                if r.get("count_s") is not None:
                    counts.append(r["count_s"])
            layer["driver.count_s"] = sum(counts)
        groups = self.server.call("stats")
        peak_rss = self.server.peak_rss_mb()
        self.server.close()
        self.tracer.spans[run_span]["end"] = time.monotonic() - self.t0
        failures = self.check()
        log(f"output check: {len(failures)} of {len(self.queries)} queries failed")
        return self.report(passes, groups, peak_rss, layer, failures)

    def check(self):
        """{query: reason} for every query whose checked output is wrong."""
        failures = dict(self.dump_errors)
        ora = Oracle(REPO_ROOT, self.check_dir)
        for _, q in self.queries:
            if q in failures:
                continue
            if q not in self.oracle_sql:
                failures[q] = "no oracle"
                continue
            reason = ora.check_dump(os.path.join(self.work, "out", q), self.oracle_sql[q])
            if reason:
                failures[q] = reason
        return failures

    def report(self, passes, groups, peak_rss, layer, failures):
        plain = [p for p in passes if not p["traced"]]
        lat = [r["latency_s"] for p in plain for r in p["records"] if r["ok"]]
        errors = {r["query"]: r["error"] for p in passes for r in p["records"] if not r["ok"]}
        attempted = sum(len(p["records"]) for p in passes) + len(self.queries)
        failed = sum(1 for p in passes for r in p["records"] if not r["ok"]) + len(failures)
        tail_p, tail_v = stats.tail_percentile(lat)
        e2e = {
            "pass_s": stats.median([p["wall_s"] for p in plain]),
            "latency_p50_s": stats.percentile(lat, 50),
            "latency_p90_s": stats.percentile(lat, 90),
            "cpu_s": stats.median([p["cpu_s"] for p in plain]),
            "peak_rss_mb": peak_rss,
            "setup_s": self.setup_s,
        }
        detail = {"latency_samples": len(lat), "tail_percentile": tail_p,
                  "tail_value_s": tail_v, "pass_s": [p["wall_s"] for p in plain],
                  "steal_share": stats.median([p["steal_share"] for p in passes]),
                  "failed_ratio": failed / attempted, "registry_mb":
                  stats.median([p["registry_bytes"] for p in plain]) / MB,
                  "setup": self.setup_parts, "errors": errors, "check_failures": failures}
        if self.trace:
            traced = [p for p in passes if p["traced"]]
            layer.update(self.layer_metrics(traced, groups))
            layer["trace.overhead_s"] = (stats.median([p["wall_s"] for p in traced])
                                         - e2e["pass_s"])
            layer["failed_ratio"] = detail["failed_ratio"]
            layer["registry_mb"] = detail["registry_mb"]
            values = layer
        else:
            values = e2e
        kind = "per_layer" if self.trace else "end_to_end"
        metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units(kind).items()}
        self.write_results(passes, groups, metrics, detail)
        return {"correct": not failures and not errors, "attempted": attempted,
                "failed": failed, "metrics": metrics}, detail

    def layer_metrics(self, traced, groups):
        cores = len(os.sched_getaffinity(0))
        per_pass = []
        for p in traced:
            g = [s for name, s in groups.items() if name.startswith(f"p{p['index']}:")]
            tot = lambda key: sum(s[key] for s in g)  # noqa: E731
            stages = tot("stages")
            skew = sorted(x for s in g for x in s["skew"])
            recs = p["records"]
            m = {
                "spark.jobs": tot("jobs"), "spark.stages": stages, "spark.tasks": tot("tasks"),
                "spark.single_task_stage_share": tot("single_task_stages") / stages if stages else 0.0,
                "spark.core_busy_share": tot("run_ms") / 1000 / (p["wall_s"] * cores),
                "spark.shuffle_write_mb": tot("shuffle_write_bytes") / MB,
                "spark.shuffle_read_mb": tot("shuffle_read_bytes") / MB,
                "spark.skew_max_over_median": stats.percentile(skew, 90) if skew else 1.0,
                "spark.spill_mb": tot("spill_bytes") / MB,
                "spark.peak_exec_mem_mb": max((s["peak_exec_mem_bytes"] for s in g), default=0) / MB,
                "spark.task_gc_s": tot("gc_ms") / 1000,
                "driver.gc_s": p["gc_s"],
                "sources.bytes_read_mb": p["read_bytes"] / MB,
                "annmodels.builds": p["builds"],
                "annmodels.written_mb": p["written_bytes"] / MB,
                "annmodels.served_queries": sum(1 for r in recs if r.get("served_files")),
                "annmodels.served_read_mb": sum(r.get("served_bytes", 0) for r in recs) / MB,
                "annmodels.first_touch_s": sum(r["latency_s"] for r in recs if r["builds"]),
            }
            for part in ("construct", "plan", "execute"):
                m[f"driver.{part}_s"] = sum(r.get(f"{part}_s") or 0.0 for r in recs)
            for sec in ALL_SECTIONS:
                lat = [r["latency_s"] for r in recs if r["section"] == sec]
                m[f"operators.{sec}.busy_s"] = sum(lat)
                m[f"operators.{sec}.p50_s"] = stats.median(lat) if lat else 0.0
            per_pass.append(m)
        return {k: stats.median([m[k] for m in per_pass]) for k in per_pass[0]}

    def write_results(self, passes, groups, metrics, detail):
        out = os.path.join(WORK_ROOT, "results")
        os.makedirs(out, exist_ok=True)
        name = f"{self.workload}-seed{self.seed}-trace{int(self.trace)}"
        with open(os.path.join(out, name + ".json"), "w") as fh:
            json.dump({"run": self.run_id, "metrics": metrics, "detail": detail,
                       "passes": passes,
                       "spark_groups": groups}, fh, indent=1)
        if self.trace:
            with open(os.path.join(out, name + ".spans.json"), "w") as fh:
                json.dump(self.tracer.spans, fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        classpath = build(REPO_ROOT)
        result, detail = run.execute(classpath)
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        if run.server is not None:
            run.server.close()
        shutil.rmtree(run.work, ignore_errors=True)
    for name, m in result["metrics"].items():
        print(f"{name:40s} {m['value']:>14.4f} {m['unit']}")
    print(f"{'latency samples':40s} {detail['latency_samples']:>14d} "
          f"(p{detail['tail_percentile']} has >= 10 beyond it: {detail['tail_value_s']:.4f} s)")
    q1, _, q3 = stats.quartiles(detail["pass_s"])
    print(f"{'passes':40s} {len(detail['pass_s']):>14d} (pass_s quartiles {q1:.4f} .. {q3:.4f} s)")
    print(f"{'failed_ratio':40s} {detail['failed_ratio']:>14.4f} ratio")
    print(f"{'cpu steal share (machine)':40s} {detail['steal_share']:>14.4f} ratio")
    for q, reason in {**detail["errors"], **detail["check_failures"]}.items():
        print(f"FAILED {q}: {reason}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
