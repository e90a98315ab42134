"""graft's benchmark: one seeded workload per run, end to end or traced.

    python3 perfbench/run.py --workload sparql_read --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists):
  sparql_read      closed-loop reads over HTTP against an in-memory namespace
  sparql_rw        the same reads interleaved with writes on a durable namespace
  analytics_batch  a fixed list of SparkEntry.queries, materialized in full

The last line of standard output is one JSON object,
  {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}},
holding the end-to-end metrics (`--trace 0`) or the per-layer ones
(`--trace 1`). Details (every latency, set-up repetition, write sample
and trace span) go to `.bench_build/artifacts/<run>.json`. The run exits
1 when an answer is wrong or an operation fails, and 2 without a result
when the program cannot be built or run.
"""
import argparse
import http.client
import json
import os
import random
import shutil
import sys
import time
import urllib.parse

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402
from jvm import HarnessError, Jvm  # noqa: E402
from stats import TooFewSamples, median, percentile  # noqa: E402

WORKLOADS = ["sparql_read", "sparql_rw", "analytics_batch"]
# every workload reads the project's fixed sf 0.01 test tables, kept in
# the benchmark's directory so a run reads only inside its checkout
DATA = os.path.join(build.HERE, "data", "sf0.01")
# analytics_batch runs these SparkEntry.queries in this order. The truth
# maintenance pair (owl_maintained, tm_dynamic) is left out: at ~12 s of
# warm time per pass it would push the benchmark's run count past its
# time budget (see README.md).
BATCH = ["gas_bfs", "gas_sssp", "gas_pr", "gas_cc", "path_transitive",
         "rdfs_closure", "fulltext_search", "dedup_minhash_lsh", "dedup_cluster",
         "graph_update"]
# after the measured passes, this many queries of the batch, chosen by
# the seed, run once more and are checked again
RECHECK = 3
# set-up is the store (and server) build, made SETUP_REPS times (a cold
# and a warm build) and reported as their median, plus one warm-up pass
# that pays JIT and first-plan costs; more builds do not fit the time a
# full benchmark round may take
SETUP_REPS = 2
# sparql_rw makes three writes per pass and compacts its journal every
# third commit, so every pass crosses one compaction at a fixed place
COMPACT_EVERY = 3
MAX_PASSES = 500


class OpFailed(Exception):
    pass


class Client:
    """One keep-alive HTTP connection to the server under test."""

    def __init__(self, address):
        u = urllib.parse.urlparse(address)
        self.host, self.port = u.hostname, u.port
        self.conn = http.client.HTTPConnection(self.host, self.port, timeout=170)

    def send(self, op):
        """Send one request, read and parse the whole response; returns
        (seconds, parsed answer)."""
        if op["kind"] == "write":
            body, ctype, accept = op["update"], "application/sparql-update", "*/*"
        else:
            body, ctype = op["query"], "application/sparql-query"
            accept = ("application/n-triples" if op.get("graph")
                      else "application/sparql-results+json")
        t0 = time.perf_counter()
        try:
            self.conn.request("POST", "/sparql", body.encode(),
                              {"Content-Type": ctype, "Accept": accept})
            resp = self.conn.getresponse()
            data = resp.read().decode()
            if resp.status != (204 if op["kind"] == "write" else 200):
                raise OpFailed(f"{op['shape']}: HTTP {resp.status} {data[:200]}")
            if op["kind"] == "write":
                answer = None
            elif op.get("graph"):
                answer = oracle.parse_ntriples(data)
            else:
                answer = oracle.parse_select(data)
        except (OSError, http.client.HTTPException, ValueError, KeyError) as e:
            self.conn.close()
            self.conn = http.client.HTTPConnection(self.host, self.port, timeout=170)
            raise OpFailed(f"{op['shape']}: {e!r}")
        return time.perf_counter() - t0, answer

    def close(self):
        self.conn.close()


def journal_state(path):
    """(bytes on disk, commit records, compactions) of the default
    namespace's journal, read from the files the server wrote."""
    if not path or not os.path.isdir(path):
        return 0, 0, 0
    size = sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)
    commits = os.path.join(path, "kb", "commits")
    n = c = 0
    for f in os.listdir(commits) if os.path.isdir(commits) else []:
        if f.endswith(".json"):
            with open(os.path.join(commits, f)) as fh:
                rec = json.load(fh)
            if isinstance(rec, dict) and "version" in rec:
                n += 1
                c += bool(rec.get("compacted"))
    return size, n, c


def _med(xs):
    return median(xs) if xs else 0.0


class Run:
    def __init__(self, args, classpath):
        self.args = args
        self.workload = args.workload
        self.trace = args.trace == 1
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
        self.data = DATA
        if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
            raise OSError(f"no benchmark data under {DATA}")
        self.work = os.path.join(build.BUILD, "work", self.run_id)
        os.makedirs(self.work, exist_ok=True)
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.spans = []
        self.detail = {}
        self.jvm = Jvm(classpath, self.run_id)

    def close(self):
        self.jvm.close()
        shutil.rmtree(self.work, ignore_errors=True)
        shutil.rmtree(self.jvm.tmp, ignore_errors=True)

    def fail(self, why):
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(why)

    def check(self, orc, checks):
        """Count every answer that differs from the oracle's as failed."""
        for op, answer in checks:
            if not orc.check_request(op, answer):
                self.fail(f"wrong answer: {op['shape']}: {op['query']}")

    def span(self, name, start, secs, rid, parent=None, **attrs):
        self.spans.append(dict(name=name, start=start, end=start + secs, rid=rid,
                               parent=parent, **attrs))

    # ---- serving workloads ------------------------------------------

    def serving(self):
        orc = oracle.Oracle(self.data, self.jvm.call("oracle", queries=[])["triples_cte"])
        checks = []
        builds, client = [], None
        for k in range(SETUP_REPS):
            if client:
                client.close()
                self.jvm.call("teardown")
            t0 = time.perf_counter()
            info = self.jvm.call("setup", workload=self.workload, data=self.data,
                                 work=os.path.join(self.work, f"setup{k}"),
                                 compactEvery=COMPACT_EVERY)
            builds.append(time.perf_counter() - t0)
            client, journal = Client(info["address"]), info.get("journal")
        t0 = time.perf_counter()
        self.loop(client, workloads.warmup(self.workload, self.args.seed),
                  "warmup", checks, journal)
        setups = [b + time.perf_counter() - t0 for b in builds]
        passes = workloads.requests(self.workload, self.args.seed, MAX_PASSES)
        m = self.loop(client, passes, "measure", checks, journal, self.args.seconds)
        if self.trace:
            # the traced pass repeats the first measured pass's reads
            traced = workloads.requests(self.workload, self.args.seed, 1, "traced",
                                        reads="measure")
            self.jvm.call("trace", on=True)
            t = self.loop(client, traced, "traced", checks, journal, traced=True)
            t["layers"] = self.replay(t["served"], journal)
            self.jvm.call("trace", on=False)
        client.close()
        self.check(orc, checks)
        lat = m["lat"]["read"] + m["lat"]["write"] + m["lat"]["probe"]
        if not lat:
            raise OpFailed("no operation succeeded")
        self.detail.update(setup_builds_s=builds, setups_s=setups, passes_s=m["pass_s"],
                           latency_ms={k: [x * 1e3 for x in v] for k, v in m["lat"].items()},
                           write_samples=m["samples"], cached_mb_end=m["cached_mb_end"],
                           op_peak_mb=m["op_peak_mb"])
        try:
            self.detail["op_p95_ms"] = percentile(lat, 0.95) * 1e3
        except TooFewSamples as e:
            self.detail["op_p95_ms"] = f"not reported: {e}"
        if self.trace:
            return self.serving_layers(m, t)
        return {"setup_s": (median(setups), "s"),
                "op_p50_ms": (median(lat) * 1e3, "ms"),
                "pass_s": (median(m["pass_s"]), "s"),
                "peak_cached_mb": (m["peak_cached_mb"], "MB")}

    def loop(self, client, passes, label, checks, journal, seconds=None, traced=False):
        """Closed loop over whole passes until `seconds` have elapsed (at
        least one pass), or over all of them when `seconds` is None.
        Every request is followed by a sample of the cached blocks (the
        peak since the previous sample), and a write also by one of the
        persisted RDDs and the journal size. A traced loop attributes
        Spark counters to each HTTP request and keeps the served
        requests for `replay`."""
        lat = {"read": [], "write": [], "probe": []}
        out = {"lat": lat, "pass_s": [], "samples": [], "served": [], "read_at": {},
               "op_peak_mb": [], "stmts": 0, "http_counters": {}}
        start = time.perf_counter()
        before = self.jvm.call("stats", resetPeak=True)
        j0 = journal_state(journal)
        for i, ops in enumerate(passes):
            busy = 0.0  # the pass's time in requests, not in sampling
            for j, op in enumerate(ops):
                rid = f"{label}.{i}.{j}"
                if traced:
                    c0 = self.jvm.call("stats")["counters"]
                self.attempted += 1
                t0 = time.time()
                try:
                    secs, answer = client.send(op)
                except OpFailed as e:
                    self.fail(str(e))
                    continue
                busy += secs
                self.span("http." + op["kind"], t0, secs, rid, shape=op["shape"])
                # cached blocks: the peak since the last sample, and now
                s1 = self.jvm.call("stats", resetPeak=True)
                out["op_peak_mb"].append(s1["peak_cached_bytes"] / 2**20)
                lat[op["kind"]].append(secs)
                if op["kind"] == "read":
                    out["read_at"][i, j] = secs
                if op["kind"] != "write":
                    checks.append((op, answer))
                if traced:
                    c1 = s1["counters"]
                    for k in c1:
                        out["http_counters"][k] = out["http_counters"].get(k, 0) + c1[k] - c0[k]
                    out["served"].append((rid, op, secs))
                if op["kind"] == "write":
                    out["stmts"] += op["stmts"]
                    out["samples"].append({
                        "cached_mb": s1["cached_bytes"] / 2**20,
                        "persisted_rdds": len(s1["persisted_rdd_ids"]),
                        "journal_bytes": journal_state(journal)[0]})
            out["pass_s"].append(busy)
            if seconds is not None and time.perf_counter() - start >= seconds:
                break
        after = self.jvm.call("stats")
        out["journal"] = (j0, journal_state(journal))
        # RDDs that stored blocks during the loop, released or not by its end
        out["new_rdds"] = after["stored_rdds"] - before["stored_rdds"]
        out["cached_mb_end"] = after["cached_bytes"] / 2**20
        out["peak_cached_mb"] = max(out["op_peak_mb"] + [after["peak_cached_bytes"] / 2**20])
        return out

    def replay(self, served, journal):
        """Replay the served requests in-process, in order, once the
        traced HTTP pass and its samples are done, so the replay's own
        views and blocks never enter the served store's figures. A
        durable namespace replays against a replica repository seeded
        with the same base data."""
        if journal:
            self.jvm.call("replica", dir=os.path.join(self.work, "replica"))
        return [self.trace_op(op, secs, rid) for rid, op, secs in served]

    def trace_op(self, op, http_s, rid):
        """Time one request's layers in-process: reads through Parser /
        Graft.query / noop / Serializer, writes as a commit to the
        benchmark's replica repository."""
        t0 = time.time()
        if op["kind"] == "write":
            r = self.jvm.call("side_update", update=op["update"])
            self.span("rdf.commit", t0, r["commit_ms"] / 1e3, rid, parent="http.write")
        else:
            r = self.jvm.call("inproc", query=op["query"])
            at = t0
            for layer in ("parse", "build", "exec"):
                self.span(f"inproc.{layer}", at, r[layer + "_ms"] / 1e3, rid, parent="http.read")
                at += r[layer + "_ms"] / 1e3
        r.update(kind=op["kind"], shape=op["shape"], http_ms=http_s * 1e3)
        return r

    def serving_layers(self, m, t):
        """Per-layer metrics of the traced passes."""
        reads = [r for r in t["layers"] if r["kind"] == "read"]
        writes = [r for r in t["layers"] if r["kind"] == "write"]
        in_process = [r["parse_ms"] + r["build_ms"] +
                      (r["exec_ms"] if r["shape"] == "ask" else r["serialize_collect_ms"])
                      for r in reads]
        rows = sum(r["rows"] for r in reads)
        inputs = sum(r["exec_counters"]["input_records"] for r in reads)
        (jb0, jn0, jc0), (jb1, jn1, jc1) = t["journal"]
        c = t["http_counters"]
        n_ops = max(1, sum(len(v) for v in t["lat"].values()))
        # traced - untraced latency of the same read (the traced pass
        # repeats the first measured pass's reads, place for place)
        paired = [(t["read_at"][0, j] - m["read_at"][0, j]) * 1e3
                  for (_, j) in t["read_at"] if (0, j) in m["read_at"]]
        p = {
            "server.overhead_ms": (_med([r["http_ms"] - s for r, s in zip(reads, in_process)]), "ms"),
            "sparql.parse_ms": (_med([r["parse_ms"] for r in reads]), "ms"),
            "sparql.build_ms": (_med([r["build_ms"] for r in reads]), "ms"),
            "sparql.rows_read_per_result": (inputs / rows if rows else 0.0, "ratio"),
            "rdf.serialize_ms": (_med([r["serialize_collect_ms"] - r["plain_collect_ms"]
                                       for r in reads if r["shape"] != "ask"]), "ms"),
            "rdf.commit_ms": (_med([w["commit_ms"] for w in writes]), "ms"),
            "rdf.update_ms": (_med([x * 1e3 for x in t["lat"]["write"]]), "ms"),
            "rdf.fresh_read_ms": (_med([x * 1e3 for x in t["lat"]["probe"]]), "ms"),
            "rdf.journal_commits": (jn1 - jn0, "count"),
            "rdf.compactions": (jc1 - jc0, "count"),
            "rdf.journal_bytes": (jb1 - jb0, "bytes"),
            "rdf.journal_bytes_per_stmt": ((jb1 - jb0) / t["stmts"] if t["stmts"] else 0.0, "bytes"),
            "rdf.view_builds": (t["new_rdds"], "count"),
            "rdf.view_mb": (t["peak_cached_mb"], "MB"),
            "trace.overhead_ms": (_med(paired), "ms"),
        }
        p.update(spark_layers(c, n_ops))
        p.update({f"{q}.{k}": (0, u) for q in BATCH for k, u in BATCH_LAYER_UNITS})
        return p

    # ---- analytics batch ----------------------------------------------

    def batch(self):
        sql = self.jvm.call("oracle", queries=BATCH)["sql"]
        orc = oracle.Oracle(self.data)
        loads = []
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.jvm.call("setup", workload=self.workload, data=self.data)
            loads.append(time.perf_counter() - t0)
        # the warm-up pass writes every result, and every answer is
        # checked against the oracle
        t0 = time.perf_counter()
        self.check_batch(orc, sql, BATCH, "warmup")
        warm_s = time.perf_counter() - t0
        setup_s = median(loads) + warm_s
        passes, start = [], time.perf_counter()
        while not passes or time.perf_counter() - start < self.args.seconds:
            t0 = time.perf_counter()
            res = self.run_batch(None)
            passes.append((time.perf_counter() - t0, res))
        traced = None
        if self.trace:
            self.jvm.call("trace", on=True)
            t0 = time.perf_counter()
            res = self.run_batch(None)
            traced = (time.perf_counter() - t0, res)
            self.jvm.call("trace", on=False)
        end = self.jvm.call("stats")
        # seeded queries run once more, untimed, and are checked again:
        # answers of a Spark session that has run the batch several times
        recheck = random.Random(f"recheck:{self.args.seed}").sample(BATCH, RECHECK)
        self.check_batch(orc, sql, recheck, "recheck")
        walls = [r["wall_ms"] for _, res in passes for r in res if "wall_ms" in r]
        # cached blocks: each query's peak, measured passes only
        peaks = [r["peak_cached_bytes"] / 2**20 for _, res in passes for r in res]
        if not walls:
            raise OpFailed("no query succeeded")
        self.detail.update(setup_loads_s=loads, warmup_pass_s=warm_s,
                           cached_mb_end=end["cached_bytes"] / 2**20,
                           passes_s=[p for p, _ in passes],
                           checked=sorted(set(BATCH) & set(sql)), rechecked=recheck,
                           op_peak_mb=peaks,
                           queries_ms={q: [r["wall_ms"] for _, res in passes for r in res
                                           if r["name"] == q and "wall_ms" in r]
                                       for q in BATCH})
        pass_s = [p for p, _ in passes]
        if self.trace:
            return self.batch_layers(traced, pass_s)
        return {"setup_s": (setup_s, "s"),
                "op_p50_ms": (median(walls), "ms"),
                "pass_s": (median(pass_s), "s"),
                "peak_cached_mb": (max(peaks), "MB")}

    def check_batch(self, orc, sql, queries, label):
        """Run `queries`, writing each result as parquet, and count every
        answer that differs from the oracle's as failed."""
        results = os.path.join(self.work, label)
        for r in self.run_batch(results, queries):
            if "error" not in r and r["name"] in sql:
                why = orc.check_batch(r["name"], sql[r["name"]], os.path.join(results, r["name"]))
                if why:
                    self.fail(f"wrong answer: {r['name']}: {why}")

    def run_batch(self, out, queries=BATCH):
        res = self.jvm.call("batch", data=self.data, queries=queries, out=out or "")["results"]
        for r in res:
            self.attempted += 1
            if "error" in r:
                self.fail(f"{r['name']}: {r['error']}")
            else:
                self.span("batch." + r["name"], time.time() - r["wall_ms"] / 1e3,
                          r["wall_ms"] / 1e3, rid=r["name"])
        return res

    def batch_layers(self, traced, pass_s):
        """Per-layer metrics of the traced pass; the untraced passes of
        the same run give the tracing overhead."""
        traced_s, res = traced
        c = {}
        for r in res:
            for k, v in r["counters"].items():
                c[k] = c.get(k, 0) + v
        p = {name: (0, unit) for name, unit in SERVING_LAYER_UNITS}
        p["sparql.build_ms"] = (_med([r["build_ms"] for r in res if "build_ms" in r]), "ms")
        p["trace.overhead_ms"] = ((traced_s - median(pass_s)) * 1e3 / len(BATCH), "ms")
        p.update(spark_layers(c, len(res)))
        for r in res:
            q = r["name"]
            p[f"{q}.wall_s"] = (r.get("wall_ms", 0.0) / 1e3, "s")
            p[f"{q}.build_s"] = (r.get("build_ms", 0.0) / 1e3, "s")
            p[f"{q}.jobs"] = (r["counters"]["jobs"], "count")
            p[f"{q}.shuffle_bytes"] = (r["counters"]["shuffle_bytes"], "bytes")
        return p


def spark_layers(c, n_ops):
    """Spark counters of one traced pass: times per operation, counts for
    the whole pass (a fixed request list at a given seed)."""
    def g(k):
        return c.get(k, 0)
    return {
        "spark.analysis_ms": (g("analysis_us") / 1e3 / n_ops, "ms"),
        "spark.optimize_ms": (g("optimize_us") / 1e3 / n_ops, "ms"),
        "spark.plan_ms": (g("plan_us") / 1e3 / n_ops, "ms"),
        "spark.exec_ms": (g("job_us") / 1e3 / n_ops, "ms"),
        "spark.task_wait_ms": (g("task_wait_us") / 1e3 / n_ops, "ms"),
        "spark.jobs": (g("jobs"), "count"),
        "spark.stages": (g("stages"), "count"),
        "spark.tasks": (g("tasks"), "count"),
        "spark.shuffle_bytes": (g("shuffle_bytes"), "bytes"),
        "spark.spill_bytes": (g("spill_bytes"), "bytes"),
    }


# per-layer metrics of the layers a workload does not reach read 0
SERVING_LAYER_UNITS = [
    ("server.overhead_ms", "ms"), ("sparql.parse_ms", "ms"),
    ("sparql.rows_read_per_result", "ratio"), ("rdf.serialize_ms", "ms"),
    ("rdf.commit_ms", "ms"), ("rdf.update_ms", "ms"), ("rdf.fresh_read_ms", "ms"),
    ("rdf.journal_commits", "count"), ("rdf.compactions", "count"),
    ("rdf.journal_bytes", "bytes"), ("rdf.journal_bytes_per_stmt", "bytes"),
    ("rdf.view_builds", "count"), ("rdf.view_mb", "MB")]
BATCH_LAYER_UNITS = [("wall_s", "s"), ("build_s", "s"), ("jobs", "count"),
                     ("shuffle_bytes", "bytes")]


def write_artifact(run, result):
    d = os.path.join(build.BUILD, "artifacts")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, run.run_id + ".json")
    with open(path, "w") as fh:
        json.dump({"args": vars(run.args), "result": result, "errors": run.errors,
                   "detail": run.detail, "spans": run.spans}, fh)
    return path


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: cannot build graft: {e}", file=sys.stderr)
        return 2
    run = None
    try:
        run = Run(args, classpath)
        metrics = run.batch() if args.workload == "analytics_batch" else run.serving()
    except (HarnessError, OpFailed, OSError) as e:
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 2
    finally:
        if run:
            run.close()
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    path = write_artifact(run, result)
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(f"perfbench: details in {os.path.relpath(path, build.ROOT)}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
