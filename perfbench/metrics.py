"""Turns one harness record into the benchmark's metrics and report.

Three views of a run:
  - `end_to_end`: the compared metrics, the same names on every
    workload (what "one operation" means per workload is in METRICS.md);
  - `named`: every end-to-end metric named for the workload, with units;
  - traced runs only: `per_layer` (the compared per-layer metrics, again
    the same names on every workload), `layers` (the detailed per-module
    table) and `self_times` (span self time per layer).
"""
import statistics

import stats

NS = 1e9
COUNT_KEYS = ("jobs", "stages", "single_task_stages", "tasks", "task_run_s",
              "task_cpu_s", "gc_s", "bytes_read", "bytes_written",
              "shuffle_write_bytes", "spill_bytes")
# Streaming progress counts, attached to micro-batch spans.
STREAM_KEYS = ("batches", "input_rows", "trigger_s", "add_batch_s",
               "planning_s", "wal_commit_s", "state_rows",
               "state_memory_bytes", "state_commit_s")


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _sum_counts(spans, keys=COUNT_KEYS):
    out = dict.fromkeys(keys, 0.0)
    for s in spans:
        for k in keys:
            out[k] += s.get("counts", {}).get(k, 0.0)
    return out


class Tree:
    """Index over a traced run's spans."""

    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def children(self, sid, layer=None):
        return [c for c in self.kids.get(sid, [])
                if layer is None or c["layer"] == layer]

    def under(self, sid):
        """Every span below `sid`."""
        out, todo = [], list(self.kids.get(sid, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.kids.get(s["id"], [])
        return out

    def dur(self, sid):
        s = self.by_id[sid]
        return (s["end"] - s["start"]) / NS


def _op_layer(tree, ops):
    """Spark work per operation: medians over `ops` of each operation's
    totals. An operation is a list of span ids (a day, a warm pass, or
    the cold and streaming passes together); its totals cover those spans
    and every span under them."""
    per = []
    for ids in ops:
        sub = [x for i in ids for x in tree.under(i)]
        c = _sum_counts([tree.by_id[i] for i in ids] + sub)
        c["plan_s"] = sum(tree.dur(s["id"]) for s in sub if s["layer"] == "plan")
        c["wall_s"] = sum(tree.dur(i) for i in ids)
        per.append(c)
    m = {k: _med([p[k] for p in per]) for k in COUNT_KEYS + ("plan_s", "wall_s")}
    stages = sum(p["stages"] for p in per)
    wall = sum(p["wall_s"] for p in per)
    m["single_task_stage_share"] = (
        sum(p["single_task_stages"] for p in per) / stages if stages else 0.0)
    m["parallelism"] = sum(p["task_run_s"] for p in per) / wall if wall else 0.0
    return m


def _generic_layers(tree, steady, first):
    out = {}
    for prefix, ops in (("op", steady), ("first", first)):
        m = _op_layer(tree, ops)
        out.update({
            prefix + ".jobs": (m["jobs"], "count"),
            prefix + ".stages": (m["stages"], "count"),
            prefix + ".tasks": (m["tasks"], "count"),
            prefix + ".single_task_stage_share":
                (m["single_task_stage_share"], "share"),
            prefix + ".task_run_s": (m["task_run_s"], "s"),
            prefix + ".task_cpu_s": (m["task_cpu_s"], "s"),
            prefix + ".plan_s": (m["plan_s"], "s"),
            prefix + ".parallelism": (m["parallelism"], "ratio"),
            prefix + ".input_bytes": (m["bytes_read"], "bytes"),
            prefix + ".output_bytes": (m["bytes_written"], "bytes"),
            prefix + ".shuffle_write_bytes": (m["shuffle_write_bytes"], "bytes"),
            prefix + ".spill_bytes": (m["spill_bytes"], "bytes"),
        })
    return out


# The streaming per-layer metrics that are compared.
STREAM_PER_LAYER = (
    ("streams.batches", "count"), ("streams.trigger_s", "s"),
    ("streams.add_batch_s", "s"), ("streams.planning_s", "s"),
    ("streams.wal_commit_s", "s"), ("streams.provision_s", "s"),
    ("streams.state_rows", "count"), ("streams.state_memory_bytes", "bytes"),
    ("streams.state_commit_s", "s"), ("streams.jobs", "count"),
    ("streams.tasks", "count"), ("streams.task_run_s", "s"))


def _tail(xs):
    label, v, n = stats.tail(xs)
    return v, "%s of %d" % (label, n)


def _medallion(rec, tree):
    # a day that threw (UNRESOLVED_COLUMN on an all-null address_3) is a
    # failed operation; the timings are over the days that published gold.
    # The days up to the first gold pay the JVM's first-run costs: their
    # sum is reported on its own, and whichever of them fail, the costs
    # are paid once
    ops = [o for o in rec["ops"] if o["kind"] == "day"]
    days = [o for o in ops if not o["error"]]
    first, steady = days[0], days[1:]
    to_first = ops[:ops.index(first) + 1]
    secs = [o["seconds"] for o in steady]
    ratios = [(d["bronze_bytes"] + d["silver_bytes"] + d["gold_bytes"])
              / d["input_bytes"] for d in rec["days"]
              if d["ok"] and d["input_bytes"]]
    tail_v, tail_d = _tail(secs)
    named = {
        "pipeline_run_s": (_med(secs), "s",
                           "median of %d days after the first gold"
                           % len(secs)),
        "pipeline_run_tail_s": (tail_v, "s", tail_d),
        "lake_bytes_per_input_byte": (_med(ratios), "ratio", "median over days"),
        "first_gold_s": (sum(o["seconds"] for o in to_first), "s",
                         "%s..%s, the days up to the first gold"
                         % (to_first[0]["name"], first["name"])),
    }
    generic = {"op_p50_s": named["pipeline_run_s"][0],
               "first_s": named["first_gold_s"][0]}
    layers = {}
    if tree:
        for st in ("bronze", "silver", "gate", "gold"):
            per = []
            for o in days:
                kids = tree.children(o["span"], st)
                c = _sum_counts(kids + [x for k in kids for x in tree.under(k["id"])])
                c["s"] = sum(tree.dur(k["id"]) for k in kids)
                per.append(c)
            for k, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"),
                         ("task_run_s", "s"), ("bytes_read", "bytes"),
                         ("bytes_written", "bytes")):
                key = "_s" if k == "s" else "_" + k
                layers["medallion.%s%s" % (st, key)] = (_med([p[k] for p in per]), u)
        layers["medallion.silver_files"] = (
            _med([d["silver_files"] for d in rec["days"] if d["ok"]]), "count")
    return named, generic, layers, [[o["span"]] for o in steady], [[first["span"]]]


def _catalog(rec, tree):
    cold = [o for o in rec["ops"] if o["kind"] == "cold"]
    warm = [o for o in rec["ops"] if o["kind"] == "warm"]
    stream = [o for o in rec["ops"] if o["kind"] == "stream"]
    suites = {}
    for p in rec["passes"]:
        suites.setdefault(p["kind"], []).append(p["seconds"])
    cold_suite = suites["cold"][0]
    stream_suite = suites["stream"][0] if stream else 0.0
    warm_suites = suites["warm"]
    cv, cd = _tail([o["seconds"] for o in cold])
    wv, wd = _tail([o["seconds"] for o in warm])
    named = {
        "suite_cold_s": (cold_suite, "s", "%d queries" % len(cold)),
        "suite_warm_s": (_med(warm_suites), "s",
                         "median of %d warm passes" % len(warm_suites)),
        "query_cold_p50_s": (_med([o["seconds"] for o in cold]), "s",
                             "%d samples" % len(cold)),
        "query_cold_tail_s": (cv, "s", cd),
        "query_warm_p50_s": (_med([o["seconds"] for o in warm]), "s",
                             "%d samples" % len(warm)),
        "query_warm_tail_s": (wv, "s", wd),
    }
    if stream:
        sv, sd = _tail([o["seconds"] for o in stream])
        named.update({
            "stream_suite_s": (stream_suite, "s", "%d queries" % len(stream)),
            "stream_query_p50_s": (_med([o["seconds"] for o in stream]), "s",
                                   "%d samples" % len(stream)),
            "stream_query_tail_s": (sv, "s", sd),
        })
    # the steady-state operation is a warm pass over the panel: the median
    # warm query is the mean of the two mid-cost queries of the panel and
    # swings with either; the first-in-JVM work is the cold pass and the
    # streaming queries
    generic = {"op_p50_s": named["suite_warm_s"][0],
               "first_s": cold_suite + stream_suite}
    layers = {}
    if tree:
        by_pass = {}
        for o in cold + warm:
            by_pass.setdefault(o["pass"], []).append(o)
        per_pass = {}
        for p, ops in by_pass.items():
            m = {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0,
                 "build_jobs": 0.0, "exec_jobs": 0.0, "exec_wall": 0.0}
            fam = {}
            allc = []
            for o in ops:
                for k in tree.children(o["span"]):
                    sub = [k] + tree.under(k["id"])
                    allc += [k]
                    plan = sum(tree.dur(x["id"]) for x in sub if x["layer"] == "plan")
                    m["plan_s"] += plan
                    if k["layer"] in ("build", "exec"):
                        own = tree.dur(k["id"]) - plan
                        m[k["layer"] + "_s"] += own
                        m[k["layer"] + "_jobs"] += k["counts"].get("jobs", 0)
                        f = fam.setdefault(o["family"], {"build": 0.0, "exec": 0.0})
                        f[k["layer"]] += own
                        if k["layer"] == "exec":
                            m["exec_wall"] += tree.dur(k["id"])
            c = _sum_counts(allc)
            m.update(c)
            m["single_task_stage_share"] = (
                c["single_task_stages"] / c["stages"] if c["stages"] else 0.0)
            exec_run = sum(k["counts"].get("task_run_s", 0.0)
                           for o in ops for k in tree.children(o["span"], "exec"))
            m["parallelism"] = exec_run / m["exec_wall"] if m["exec_wall"] else 0.0
            m["fam"] = fam
            per_pass[p] = m
        warm_passes = [per_pass[p] for p in sorted(per_pass) if p > 0]
        for name, ms in (("cold", [per_pass[0]]), ("warm", warm_passes)):
            for k, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                         ("build_jobs", "count"), ("exec_jobs", "count"),
                         ("stages", "count"), ("tasks", "count"),
                         ("single_task_stage_share", "share"),
                         ("task_run_s", "s"), ("task_cpu_s", "s"),
                         ("gc_s", "s"), ("parallelism", "ratio"),
                         ("bytes_read", "bytes"),
                         ("shuffle_write_bytes", "bytes"),
                         ("spill_bytes", "bytes")):
                label = "input_bytes" if k == "bytes_read" else k
                layers["catalog.%s.%s" % (name, label)] = (_med([m[k] for m in ms]), u)
            fams = sorted({f for m in ms for f in m["fam"]})
            for f in fams:
                for ph in ("build", "exec"):
                    layers["catalog.%s.%s_s.%s" % (name, ph, f)] = (
                        _med([m["fam"].get(f, {}).get(ph, 0.0) for m in ms]), "s")
        warm_by_q = {}
        for o in warm:
            warm_by_q.setdefault(o["name"], []).append(o["seconds"])
        layers["catalog.first_run_s"] = (sum(
            o["seconds"] - _med(warm_by_q.get(o["name"], [o["seconds"]]))
            for o in cold), "s")
        layers["tables.landed_calls"] = (rec["tables"]["landed_calls"], "count")
        layers["tables.eager_calls"] = (rec["tables"]["eager_calls"], "count")
        layers.update(_stream_layers(tree, stream))
    spans = {}
    for p in rec["passes"]:
        spans.setdefault(p["kind"], []).append(p["span"])
    return (named, generic, layers, [[sp] for sp in spans["warm"]],
            [spans["cold"] + spans.get("stream", [])])


def _stream_layers(tree, stream_ops):
    """Totals over the streaming queries: progress counts from their
    micro-batch spans, Spark work from every span under them, and
    provisioning = query wall minus the time its triggers ran."""
    m = dict.fromkeys(STREAM_KEYS, 0.0)
    jobs = dict.fromkeys(COUNT_KEYS, 0.0)
    provision = 0.0
    for o in stream_ops:
        sub = [tree.by_id[o["span"]]] + tree.under(o["span"])
        c = _sum_counts([x for x in sub if x["layer"] == "microbatch"],
                        STREAM_KEYS)
        for k in STREAM_KEYS:
            m[k] += c[k]
        for k, v in _sum_counts(sub).items():
            jobs[k] += v
        provision += o["seconds"] - c["trigger_s"]
    units = {"batches": "count", "input_rows": "count", "state_rows": "count",
             "state_memory_bytes": "bytes"}
    out = {"streams." + k: (m[k], units.get(k, "s")) for k in STREAM_KEYS}
    out["streams.provision_s"] = (provision, "s")
    out["streams.jobs"] = (jobs["jobs"], "count")
    out["streams.tasks"] = (jobs["tasks"], "count")
    out["streams.task_run_s"] = (jobs["task_run_s"], "s")
    return out


def compute(rec, failed_checks, leaked, host):
    """The report of one run. `failed_checks` are query names whose output
    did not match the oracle; `leaked` are graft* temp dirs left behind."""
    tree = Tree(rec["spans"]) if rec["trace"] else None
    w = rec["workload"]
    named, generic, layers, steady, first = {
        "medallion_daily": _medallion, "catalog_batch": _catalog}[w](rec, tree)

    bad_checks = [c["name"] for c in rec["checks"] if not c["ok"]]
    if w == "medallion_daily":
        attempted = len(rec["days"]) + 1
        failed_ops = ["day%d" % d["day"] for d in rec["days"] if not d["ok"]]
        if any(not c["ok"] for c in rec["checks"] if c["name"].startswith("bad")):
            failed_ops.append("bad batch")
    else:
        attempted = len(rec["ops"])
        failed_ops = ["%s#%d" % (o["name"], o["pass"]) for o in rec["ops"]
                      if o["error"] or o["name"] in failed_checks]
    setup = rec["setup"]
    setup_s = setup["seconds"]
    named = dict(named)
    named["setup_s"] = (setup_s, "s", "session start, warm-up%s" % (
        ", streaming staging" if setup["prestage_s"] else ""))
    named["failed_ops_share"] = (len(failed_ops) / attempted, "share",
                                 "%d of %d" % (len(failed_ops), attempted))
    named["peak_heap_mb"] = (rec["peak_heap_mb"], "MB", "peak live heap (after GC)")

    report = {
        "workload": w, "seed": rec["seed"], "trace": rec["trace"],
        "attempted": attempted, "failed": len(failed_ops),
        "correct": not (bad_checks or failed_checks),
        "failed_ops": failed_ops, "failed_checks": bad_checks + failed_checks,
        "errors": {o["name"]: o["error"] for o in rec["ops"] if o["error"]},
        "host": host, "measured_s": rec["measured_s"],
        "ops": [[o["name"], o["pass"], round(o["seconds"], 4)] for o in rec["ops"]],
        "named": {k: list(v) for k, v in named.items()},
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (generic["op_p50_s"], "s"),
            "first_s": (generic["first_s"], "s"),
            "peak_heap_mb": (rec["peak_heap_mb"], "MB"),
        },
        "tmp_graft_dirs_leaked": leaked,
    }
    if tree:
        per_layer = {
            "sessions.start_s": (setup["start_s"], "s"),
            "sessions.warmup_s": (setup["warmup_s"], "s"),
            "streams.prestage_s": (setup["prestage_s"], "s"),
        }
        per_layer.update(_generic_layers(tree, steady, first))
        # the streaming layer, on the workload that runs it (0 elsewhere)
        streaming = {k: layers.get(k, (0.0, u)) for k, u in STREAM_PER_LAYER}
        per_layer.update(streaming)
        per_layer["tmp.graft_dirs_leaked"] = (len(leaked), "count")
        report["per_layer"] = per_layer
        for k in ("sessions.start_s", "sessions.warmup_s",
                  "streams.prestage_s", "tmp.graft_dirs_leaked"):
            layers[k] = per_layer[k]
        report["layers"] = layers
        by_layer = stats.layer_self_times(rec["spans"])
        report["self_times"] = {k: v / NS for k, v in sorted(by_layer.items())}
        root = [s for s in rec["spans"] if s["layer"] == "run"][0]
        report["run_span_s"] = (root["end"] - root["start"]) / NS
    return report


def overhead(traced, untraced):
    """Tracing overhead: traced minus untraced value of each end-to-end
    time, as seconds and as a share of the untraced value."""
    out = {}
    for k, (v, u) in traced["end_to_end"].items():
        if u == "s" and k in untraced["end_to_end"]:
            base = untraced["end_to_end"][k][0]
            out[k] = {"traced": v, "untraced": base, "delta_s": v - base,
                      "share": (v - base) / base if base else None}
    return out


def render(r):
    """The readable report: every metric by name, with its unit."""
    lines = ["perfbench %s seed=%s trace=%s  attempted=%d failed=%d "
             "correct=%s" % (r["workload"], r["seed"], r["trace"],
                             r["attempted"], r["failed"], r["correct"])]
    h = r["host"]
    lines.append("host: nproc=%d SPARK_GRAFT_CPUS=%d heap=%s loadavg %s -> %s "
                 "steal_ticks %s -> %s" % (
                     h["nproc"], h["spark_graft_cpus"], h["heap_limit"],
                     h["before"]["loadavg"], h["after"]["loadavg"],
                     h["before"]["steal_ticks"], h["after"]["steal_ticks"]))
    lines.append("end-to-end (tracing %s):" % ("on" if r["trace"] else "off"))
    for k, (v, u, d) in sorted(r["named"].items()):
        lines.append("  %-28s %14.6f %-6s %s" % (k, v, u, d))
    for k in ("failed_ops", "failed_checks"):
        if r[k]:
            lines.append("%s: %s" % (k, ", ".join(r[k])))
    for n, e in sorted(r["errors"].items()):
        lines.append("error %s: %s" % (n, e))
    if r["tmp_graft_dirs_leaked"]:
        lines.append("graft* temp dirs left: " + ", ".join(r["tmp_graft_dirs_leaked"]))
    if "layers" in r:
        lines.append("per-layer:")
        for k, (v, u) in sorted(r["layers"].items()):
            lines.append("  %-44s %16.6f %s" % (k, v, u))
        lines.append("self time by span layer (s), run span %.3f s:" % r["run_span_s"])
        for k, v in sorted(r["self_times"].items(), key=lambda kv: -kv[1]):
            lines.append("  %-20s %10.4f" % (k, v))
    if "tracing_overhead" in r:
        lines.append("tracing overhead (traced - untraced, same seed):")
        for k, o in sorted(r["tracing_overhead"].items()):
            lines.append("  %-12s %+.4f s (%s)" % (
                k, o["delta_s"], "n/a" if o["share"] is None
                else "%+.1f%%" % (100 * o["share"])))
    return "\n".join(lines)
