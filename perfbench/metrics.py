"""Turns a run's record (`record.jsonl`, written by `perfbench.Main`) into
the benchmark's metrics. The arithmetic helpers are kept free of I/O so
`test_metrics.py` can check them."""
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First and third quartile, as `statistics.quantiles(xs, n=4)` gives
    them; a single value is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def union(intervals):
    """Disjoint, sorted intervals covering the same points as `intervals`."""
    out = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def covered(intervals):
    return sum(b - a for a, b in union(intervals))


def overlap(xs, ys):
    """Length of the time both interval sets cover."""
    xs, ys = union(xs), union(ys)
    i = j = 0
    total = 0
    while i < len(xs) and j < len(ys):
        lo, hi = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        total += max(0, hi - lo)
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


def gap(window, intervals):
    """Time inside `window` that no interval covers."""
    a, b = window
    return (b - a) - overlap([window], intervals)


def self_values(prefixes):
    """[(name, cumulative value)] of growing prefixes → [(name, own value)]:
    each prefix's value minus the previous prefix's."""
    out, prev = [], 0
    for name, v in prefixes:
        out.append((name, v - prev))
        prev = v
    return out


# ----------------------------------------------------------------- metrics

END_TO_END = [
    ("setup_s", "s"), ("first_s", "s"), ("warm_s", "s"),
    ("rows_per_s", "1/s"), ("cpu_s", "s"), ("retained_heap_mb", "MiB"),
    ("scratch_mb", "MiB"),
]

PER_LAYER = [
    ("gps.parse.read_s", "s"), ("gps.parse.read_cpu_s", "s"),
    ("gps.parse.lines_in", "count"), ("gps.parse.self_s", "s"),
    ("gps.parse.cpu_s", "s"), ("gps.parse.rows_out", "count"),
    ("gps.parse.valid_ratio", "ratio"), ("gps.parse.lines_per_cpu_s", "1/s"),
    ("gps.assemble.self_s", "s"), ("gps.assemble.cpu_s", "s"),
    ("gps.assemble.gc_s", "s"), ("gps.assemble.shuffle_bytes", "B"),
    ("gps.assemble.spill_bytes", "B"), ("gps.assemble.fixes_out", "count"),
    ("gps.assemble.sentences_per_fix", "ratio"),
    ("engine.rel.self_s", "s"), ("engine.rel.cpu_s", "s"),
    ("engine.rel.rows_out", "count"), ("engine.rel.gate_pass_ratio", "ratio"),
    ("engine.stream.triggers", "count"), ("engine.stream.trigger_ms_p50", "ms"),
    ("engine.stream.trigger_ms_max", "ms"), ("engine.stream.add_batch_ms", "ms"),
    ("engine.stream.offsets_ms", "ms"), ("engine.stream.planning_ms", "ms"),
    ("engine.stream.wal_ms", "ms"), ("engine.stream.jobs_per_trigger", "count"),
    ("engine.stream.tasks_per_trigger", "count"),
    ("engine.stream.sink_read_s", "s"),
    ("engine.stream.state_rows_total", "count"),
    ("engine.stream.state_rows_updated", "count"),
    ("engine.stream.state_commit_ms", "ms"),
    ("engine.stream.state_memory_bytes", "B"),
    ("engine.stream.state_stores", "count"),
    ("engine.stream.rows_dropped_late", "count"),
    ("engine.stream.store_bytes", "B"), ("engine.stream.store_files", "count"),
    ("gps.stream.cpu_s", "s"), ("gps.stream.fixes_out", "count"),
    ("gps.stream.complete_ratio", "ratio"),
    ("engine.llm.exact_s", "s"), ("engine.llm.exact_cpu_s", "s"),
    ("engine.llm.minhash_s", "s"), ("engine.llm.minhash_cpu_s", "s"),
    ("engine.llm.commit_s", "s"), ("engine.llm.commit_cpu_s", "s"),
    ("engine.llm.serve_s", "s"), ("engine.llm.serve_cpu_s", "s"),
    ("engine.llm.commit_overlap_s", "s"), ("engine.llm.serve_jobs", "count"),
    ("engine.llm.kept_ratio", "ratio"),
    ("engine.Core.cache_builds", "count"), ("engine.Core.scratch_bytes", "B"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_failures", "count"), ("spark.gc_s", "s"),
    ("spark.shuffle_bytes", "B"), ("spark.spill_bytes", "B"),
    ("spark.driver_gap_s", "s"),
    ("trace_overhead", "ratio"),
]

UNITS = dict(END_TO_END + PER_LAYER)

# Job-description prefixes `pipeline_online` sets per phase; the minhash
# screen labels its own sub-steps `mh:probe#N` and `mh:append#N`.
LLM_BUCKETS = {"exact": ("online:exact#",),
               "minhash": ("online:minhash#", "mh:"),
               "commit": ("online:index#",), "serve": ("online:serve",)}

MiB = float(1 << 20)


def ratio(a, b):
    return a / b if b else 0.0


def end_to_end(rec):
    """Times come only from executions that returned the oracle's result."""
    warm = rec.passed("warm")
    warm_s = median([e["wall_s"] for e in warm])
    return {
        "setup_s": rec.setup["s"],
        "first_s": rec.first["wall_s"],
        "warm_s": warm_s,
        "rows_per_s": rec.input_rows / warm_s,
        "cpu_s": median([e["cpu_s"] for e in warm]),
        "retained_heap_mb": rec.end["heap_bytes"] / MiB,
        "scratch_mb": rec.end["scratch_bytes"] / MiB,
    }


def iteration_metrics(rec, it, extra):
    """Per-layer metrics of one traced iteration: `it` maps a prefix name
    (`read`, `parse`, `assemble`) and `full` to that execution's record;
    `extra` holds values read from the checked result."""
    m = {}
    full = it["full"]
    tag = full["tag"]
    tasks = rec.by_tag("task", tag)
    jobs = rec.jobs(tag)
    trig = sorted(rec.by_tag("trigger", tag), key=lambda t: (t["t0"], t["batch"]))

    # Self values of the GPS layers: each prefix minus the one before it.
    chain = [n for n in ("read", "parse", "assemble", "full") if n in it]

    def own(value):
        return dict(self_values([(n, value(it[n])) for n in chain]))

    def task_sum(key):
        return lambda e: sum(t[key] for t in rec.by_tag("task", e["tag"]))

    if "parse" in it:
        rd, ps = it["read"], it["parse"]
        wall, cpu = own(lambda e: e["wall_s"]), own(lambda e: e["cpu_s"])
        m.update({
            "gps.parse.read_s": rd["wall_s"], "gps.parse.read_cpu_s": rd["cpu_s"],
            "gps.parse.lines_in": rd["rows"],
            "gps.parse.self_s": wall["parse"], "gps.parse.cpu_s": cpu["parse"],
            "gps.parse.rows_out": ps["rows"],
            "gps.parse.valid_ratio": ratio(ps["rows"], rd["rows"]),
            "gps.parse.lines_per_cpu_s": ratio(rd["rows"], ps["cpu_s"]),
        })
    if "assemble" in it:
        ps, asm = it["parse"], it["assemble"]
        m.update({
            "gps.assemble.self_s": wall["assemble"],
            "gps.assemble.cpu_s": cpu["assemble"],
            "gps.assemble.gc_s": own(lambda e: e["gc_s"])["assemble"],
            "gps.assemble.shuffle_bytes": own(task_sum("shuffle_w"))["assemble"],
            "gps.assemble.spill_bytes": own(task_sum("spill"))["assemble"],
            "gps.assemble.fixes_out": asm["rows"],
            "gps.assemble.sentences_per_fix": ratio(ps["rows"], asm["rows"]),
            "engine.rel.self_s": wall["full"], "engine.rel.cpu_s": cpu["full"],
            "engine.rel.rows_out": full["rows"],
            "engine.rel.gate_pass_ratio": ratio(extra.get("gated_fixes", 0),
                                                asm["rows"]),
        })

    if trig:
        windows = [(t["t0"], t["t0"] + t["ms"]) for t in trig]

        def in_window(ms):
            return any(a <= ms <= b for a, b in windows)
        trig_jobs = [j for j in jobs if in_window(j["t0"])]
        trig_tasks = [t for t in tasks if in_window(t["t0"])]
        n = len(trig)
        m.update({
            "engine.stream.triggers": n,
            "engine.stream.trigger_ms_p50": median([t["ms"] for t in trig]),
            "engine.stream.trigger_ms_max": max(t["ms"] for t in trig),
            "engine.stream.add_batch_ms": sum(t["add_batch_ms"] for t in trig),
            "engine.stream.offsets_ms": sum(t["offsets_ms"] for t in trig),
            "engine.stream.planning_ms": sum(t["planning_ms"] for t in trig),
            "engine.stream.wal_ms": sum(t["wal_ms"] for t in trig),
            "engine.stream.jobs_per_trigger": len(trig_jobs) / n,
            "engine.stream.tasks_per_trigger": len(trig_tasks) / n,
            "engine.stream.sink_read_s": full["action_s"],
            "engine.stream.state_rows_total": trig[-1]["state_rows_total"],
            "engine.stream.state_rows_updated":
                sum(t["state_rows_updated"] for t in trig),
            "engine.stream.state_commit_ms":
                sum(t["state_commit_ms"] for t in trig),
            "engine.stream.state_memory_bytes":
                max(t["state_memory_bytes"] for t in trig),
            "engine.stream.state_stores": max(t["state_stores"] for t in trig),
            "engine.stream.rows_dropped_late":
                sum(t["rows_dropped_late"] for t in trig),
            "engine.stream.store_bytes": full["store_bytes"],
            "engine.stream.store_files": full["store_files"],
        })
        if "sink_fixes" in full:
            m.update({
                "gps.stream.cpu_s": sum(t["cpu_ns"] for t in trig_tasks) / 1e9,
                "gps.stream.fixes_out": full["sink_fixes"],
                "gps.stream.complete_ratio":
                    ratio(full["sink_complete"], full["sink_fixes"]),
            })

    bucket_jobs = {b: [j for j in jobs if j["desc"].startswith(ps)]
                   for b, ps in LLM_BUCKETS.items()}
    if any(bucket_jobs.values()):
        for b, js in bucket_jobs.items():
            ids = {j["job"] for j in js}
            m[f"engine.llm.{b}_s"] = covered([(j["t0"], j["t1"]) for j in js]) / 1e3
            m[f"engine.llm.{b}_cpu_s"] = sum(
                t["cpu_ns"] for t in tasks if t["job"] in ids) / 1e9
        others = [j for j in jobs if j not in bucket_jobs["commit"]]
        m["engine.llm.commit_overlap_s"] = overlap(
            [(j["t0"], j["t1"]) for j in bucket_jobs["commit"]],
            [(j["t0"], j["t1"]) for j in others]) / 1e3
        m["engine.llm.serve_jobs"] = len(bucket_jobs["serve"])
        m["engine.llm.kept_ratio"] = extra.get("kept_ratio", 0.0)

    m.update({
        "spark.jobs": len(jobs),
        "spark.stages": len(rec.by_tag("stage", tag)),
        "spark.tasks": full["tasks"],
        "spark.task_failures": full["failed_tasks"],
        "spark.gc_s": full["gc_s"],
        "spark.shuffle_bytes": sum(t["shuffle_w"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.driver_gap_s": gap((full["e0"], full["e1"]),
                                  [(t["t0"], t["t1"]) for t in tasks]) / 1e3,
    })
    return m


def per_layer(rec, extra):
    """Medians over the traced iterations; a layer the workload does not
    run reads 0."""
    its = rec.iterations()
    per_it = [iteration_metrics(rec, it, extra) for it in its]
    out = {}
    for name, _ in PER_LAYER:
        vals = [m[name] for m in per_it if name in m]
        out[name] = median(vals) if vals else 0
    warm = [e["wall_s"] for e in rec.passed("warm")]
    out["trace_overhead"] = median([it["full"]["wall_s"] for it in its]) / median(warm)
    out["engine.Core.cache_builds"] = sum(e["cache_builds"] for e in rec.execs)
    out["engine.Core.scratch_bytes"] = rec.end["scratch_bytes"]
    return out


class Run:
    """The parsed record of one run."""

    def __init__(self, lines):
        self.setup = next(r for r in lines if r["k"] == "setup")
        self.execs = [r for r in lines if r["k"] == "exec"]
        self.first = next(e for e in self.execs if e["kind"] == "first")
        self.end = next(r for r in lines if r["k"] == "end")
        self.input_rows = self.setup["input_rows"]
        self._tags = {}
        for r in lines:
            self._tags.setdefault((r["k"], r["tag"]), []).append(r)

    def by_tag(self, kind, tag):
        return self._tags.get((kind, tag), [])

    def jobs(self, tag):
        ends = {j["job"]: j["t"] for j in self.by_tag("job_end", tag)}
        return [{"job": j["job"], "desc": j["desc"], "t0": j["t"],
                 "t1": ends.get(j["job"], j["t"])}
                for j in self.by_tag("job_start", tag)]

    def passed(self, kind):
        return [e for e in self.execs if e["kind"] == kind and e["ok"]]

    def iterations(self):
        """Traced iterations in order, each {prefix name or "full": exec};
        an iteration with a failed execution is left out."""
        its = {}
        for e in self.execs:
            if e["kind"] == "traced" or e["kind"].startswith("prefix."):
                i, name = e["tag"].split(".", 1)
                its.setdefault(i, {})[name] = e
        return [its[k] for k in sorted(its, key=lambda k: int(k[1:]))
                if all(e["ok"] for e in its[k].values())]
