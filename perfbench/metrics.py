"""Turns one run's raw samples (result.json from the JVM) into metrics.

End-to-end metrics (untraced runs) are the same four names on every
workload; what "op" and "step" mean per workload is in README.md.
Per-layer metrics (traced runs) come from the spans: every timed op that
ran traced, and for the dedup, textstats and operators layers the batch
jobs of index_batch, with Spark jobs, query executions and filesystem
calls attached to the innermost span they ran under. Layers a workload
does not call read 0.
"""
import statistics

SELF_TOLERANCE = 0.01   # layer self times must sum to op wall within 1%
LAYERS = ["bench", "session", "tables", "pipelines", "streaming", "index", "dedup",
          "textstats", "operators"]
# layers called only by the batch jobs of index_batch (ops `clean`, `pass`)
BATCH_LAYERS = {"dedup", "textstats", "operators"}


def _med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _m(value, unit):
    return {"value": value, "unit": unit}


def e2e_metrics(res):
    return {
        "setup_s": _m(_med(res["setup_s"]), "s"),
        "op_p50_s": _m(_med(res["samples"][res["primary"]]), "s"),
        "step_p50_s": _m(_med(res["step_s"]), "s"),
        "peak_rss_mb": _m(res["peak_rss_mb"], "MB"),
    }


class Trace:
    """Index over the dumped spans, jobs and executions of one run."""

    def __init__(self, t):
        self.spans = {s[0]: dict(zip(
            ["id", "parent", "name", "op", "s_ns", "e_ns", "s_ms", "e_ms", "c0", "c1"], s))
            for s in t["spans"]}
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)
        # jobs from threads the span property did not reach fall back to time
        self.jobs = [dict(zip(["id", "span", "s_ms", "e_ms", "tasks", "shuffle", "spill",
                               "exec"], j)) for j in t["jobs"]]
        for j in self.jobs:
            sp = self.spans.get(j["span"])
            if sp is None or not (sp["s_ms"] - 2 <= j["s_ms"] <= sp["e_ms"] + 2):
                j["span"] = self._at(j["s_ms"])
        self.execs = [dict(zip(["id", "span", "s_ms", "plan_ms"], e)) for e in t["execs"]]
        for e in self.execs:
            if e["span"] < 0:
                e["span"] = self._at(e["s_ms"])

    def _at(self, ms):
        """Innermost span whose interval holds the wall-clock instant `ms`."""
        best = -1
        for s in self.spans.values():
            if s["s_ms"] <= ms <= s["e_ms"] and (best < 0 or s["s_ns"] >= self.spans[best]["s_ns"]):
                best = s["id"]
        return best

    def subtree(self, root):
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    @staticmethod
    def dur(s):
        return (s["e_ns"] - s["s_ns"]) / 1e9

    def self_s(self, s):
        """Span time not covered by its children. Children are clipped to
        the span and their union is taken, so a child that overlaps a
        sibling or outlives its parent makes the layer times of the op sum
        to more than its wall time, which the sum check then reports."""
        covered, end = 0, None
        for a, b in sorted((max(c["s_ns"], s["s_ns"]), min(c["e_ns"], s["e_ns"]))
                           for c in self.children.get(s["id"], [])):
            if b <= a:
                continue
            if end is None or a > end:
                covered += b - a; end = b
            elif b > end:
                covered += b - end; end = b
        return (s["e_ns"] - s["s_ns"] - covered) / 1e9

    def op_stats(self, op, wall):
        """Per-layer numbers of one op span; `wall` is the op's wall time
        as the harness timed it, apart from the spans."""
        sub = self.subtree(op)
        ids = {s["id"] for s in sub}
        jobs = [j for j in self.jobs if j["span"] in ids]
        execs = [e for e in self.execs if e["span"] in ids]
        iv = sorted((j["s_ms"], j["e_ms"]) for j in jobs if j["e_ms"] >= 0)
        in_job, end = 0.0, None
        for a, b in iv:                      # union of job intervals
            if end is None or a > end:
                in_job += b - a; end = b
            elif b > end:
                in_job += b - end; end = b
        c0, c1 = op["c0"], op["c1"]
        layer = {}
        for s in sub:
            name = "bench" if s["name"].startswith("op:") else s["name"].split(".")[0]
            layer[name] = layer.get(name, 0.0) + self.self_s(s)
        named = {}
        for s in sub:
            named[s["name"]] = named.get(s["name"], 0.0) + self.dur(s)
            named["self:" + s["name"]] = named.get("self:" + s["name"], 0.0) + self.self_s(s)
        return {
            "wall": wall, "layer": layer, "named": named,
            "actions": len(execs), "jobs": len(jobs), "tasks": sum(j["tasks"] for j in jobs),
            "plan_s": sum(e["plan_ms"] for e in execs) / 1e3,
            "compile_s": (c1[0] - c0[0]) / 1e9, "compile_count": c1[1] - c0[1],
            "in_job_s": in_job / 1e3, "gap_s": wall - in_job / 1e3,
            "shuffle_mb": sum(j["shuffle"] for j in jobs) / 1e6,
            "spill_mb": sum(j["spill"] for j in jobs) / 1e6,
            "fs_read": c1[2] - c0[2], "fs_write": c1[3] - c0[3], "fs_list": c1[4] - c0[4],
            "fs_written_mb": (c1[5] - c0[5]) / 1e6,
        }


def trace_metrics(res):
    tr = Trace(res["trace"])
    facts = res["facts"]
    warm = res["warmup"]
    # per-op numbers are over the op series that op_p50_s is taken from
    kind = res["primary"]
    wall = {int(k): v for k, v in res["traced_wall"].items()}
    ops = [s for s in tr.spans.values() if s["name"].startswith("op:")]
    timed = [tr.op_stats(s, wall[s["op"]]) for s in ops
             if s["op"] >= warm and s["name"] == "op:" + kind]
    batch = [tr.op_stats(s, wall[s["op"]]) for s in ops if s["name"] in ("op:clean", "op:pass")]
    first = [tr.op_stats(s, wall[0]) for s in ops if s["op"] == 0]
    setup = [s for s in tr.spans.values() if s["op"] < 0]

    def per_op(key):
        return _med([o[key] for o in timed])

    def named(name, among=timed):
        return _med([o["named"][name] for o in among if name in o["named"]])

    m = {
        "session.build_s": _m(_med([tr.dur(s) for s in setup if s["name"] == "session.build"]), "s"),
        "tables.pretouch_s": _m(_med([tr.dur(s) for s in setup
                                      if s["name"] == "tables.pretouch"]), "s"),
        "pipelines.apply_s": _m(named("pipelines.apply"), "s"),
        "streaming.guard_s": _m(named("self:streaming.guard"), "s"),
        "streaming.ledger_get_s": _m(named("streaming.ledger_get"), "s"),
        "streaming.ledger_set_s": _m(named("streaming.ledger_set"), "s"),
        "streaming.replay_noops": _m(facts.get("replay_noops", 0), "count"),
        "streaming.ledger_mb": _m(facts.get("ledger_mb", 0.0), "MB"),
        "index.serve_plan_s": _m(named("index.serve_plan"), "s"),
        "index.serve_exec_s": _m(named("index.serve_exec"), "s"),
        "index.live_deltas": _m(_med(facts.get("live_deltas", [])), "count"),
        "index.append_s": _m(_med(facts.get("append_s", [])), "s"),
        "index.cutover_s": _m(_med(facts.get("cutover_s", [])), "s"),
        "index.space_amp": _m(facts.get("space_amp", 0.0), "ratio"),
        "index.recall_at_10": _m(facts.get("recall_at_10", 0.0), "ratio"),
        "dedup.clean_s": _m(named("dedup.clean", batch), "s"),
        "dedup.pairs": _m(facts.get("lsh_verified", 0), "count"),
        "dedup.pair_yield": _m(facts["lsh_verified"] / facts["lsh_candidates"]
                               if facts.get("lsh_candidates") else 0.0, "ratio"),
        "dedup.spill_dirs": _m(facts.get("spill_dirs", 0), "count"),
        "textstats.route_s": _m(named("textstats.route", batch), "s"),
        "textstats.meter_s": _m(named("textstats.meter", batch), "s"),
        "spark.actions": _m(per_op("actions"), "count"),
        "spark.jobs": _m(per_op("jobs"), "count"),
        "spark.tasks": _m(per_op("tasks"), "count"),
        "spark.plan_s": _m(per_op("plan_s"), "s"),
        "spark.compile_s": _m(per_op("compile_s"), "s"),
        "spark.compile_count": _m(per_op("compile_count"), "count"),
        "bench.first_op_s": _m(res["first_op_s"], "s"),
        "spark.first_plan_s": _m(_med([o["plan_s"] for o in first]), "s"),
        "spark.first_compile_s": _m(_med([o["compile_s"] for o in first]), "s"),
        "spark.in_job_s": _m(per_op("in_job_s"), "s"),
        "spark.gap_s": _m(per_op("gap_s"), "s"),
        "spark.shuffle_mb": _m(per_op("shuffle_mb"), "MB"),
        "spark.spill_mb": _m(per_op("spill_mb"), "MB"),
        "fs.read_ops": _m(per_op("fs_read"), "count"),
        "fs.write_ops": _m(per_op("fs_write"), "count"),
        "fs.list_ops": _m(per_op("fs_list"), "count"),
        "fs.written_mb": _m(per_op("fs_written_mb"), "MB"),
        "operators.entry_s": _m(_med([tr.dur(s) for s in tr.spans.values()
                                      if s["name"] == "operators.entry"]), "s"),
    }
    for layer in LAYERS:
        among = [o for o in batch if layer in o["layer"]] if layer in BATCH_LAYERS else timed
        m[f"self.{layer}_s"] = _m(_med([o["layer"].get(layer, 0.0) for o in among]), "s")
    # self times partition the op's span when spans nest and siblings do not
    # overlap; the harness's own op timer also catches time spent outside it
    err = max((abs(sum(o["layer"].values()) - o["wall"]) / o["wall"]
               for o in timed + batch),
              default=0.0)
    m["trace.self_sum_err"] = _m(err, "ratio")
    t, u = res["samples"].get("traced:" + kind), res["samples"].get("untraced:" + kind)
    m["trace.overhead"] = _m(_med(t) / _med(u) - 1.0 if t and u else 0.0, "ratio")
    m["trace.ops"] = _m(len(timed), "count")
    return m
