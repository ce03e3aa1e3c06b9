#!/usr/bin/env python3
"""Bench-budget guard for graft.Bench captures.

Reads a bench capture, estimates the bench-host wall of a full bench
run, and exits non-zero when the estimate exceeds the budget:

    estimate = (sum(cold) + sum(warm)) * SLOWDOWN + OVERHEAD

 - SLOWDOWN 1.3: ratio of the bench host's wall to a local capture's
   (r05: 232 s vs ~180 s local). A BENCH_r{N}.json wrapper was measured
   on the bench host already, so it gets 1.0;
 - OVERHEAD 100 s: sbt launch, compile and SparkSession start on the
   bench host, outside the per-query timings;
 - BUDGET 1000 s (--budget): the operational target, not the kill
   threshold.

A capture older than the newest fixture under --fixtures (default
DEFAULT_FIXTURES) cannot predict anything, so it is refused (exit 2)
unless --no-staleness-check is given.

Two capture shapes are accepted: raw graft.Bench stdout (JSONL:
`{"progress":...}` lines and the `{"metric":"total",...}` summary), and
the driver's BENCH_r{N}.json wrapper, one JSON object whose string
`tail` holds the last ~2,000 chars of bench stdout. When per-query lines
were truncated away, the summary's `value` + `total_warm` is the basis
and its `top_cold`/`warm_echo` maps name the heavy queries.

Usage:
    benchguard.py CAPTURE [--budget SECONDS]
                  [--fixtures DIR | --no-staleness-check]
                  [--compare OTHER_CAPTURE]
    benchguard.py --selftest

--compare OTHER prints, on the queries both captures carry, the cold,
cold_min (per query min of cold and warm) and warm totals, and the
largest per-query cold movers. It is advisory and never changes the
exit code.

Exit codes: 0 within budget, 1 over budget, 2 empty or stale capture.
"""
import json
import os
import sys

SLOWDOWN = 1.3
OVERHEAD_S = 100.0
DEFAULT_BUDGET_S = 1000.0
DEFAULT_FIXTURES = "/root/testdata"


def json_records(lines):
    """Each line that decodes as a JSON object; log noise is skipped."""
    for line in lines:
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(d, dict):
            yield d


def parse_capture(lines):
    """Per-query (cold, warm) seconds from the progress lines. A pre-round-8
    summary that embeds full per-query maps is honoured when present."""
    cold, warm = {}, {}
    for d in json_records(lines):
        if d.get("metric") == "total" and d.get("queries"):
            return dict(d["queries"]), dict(d.get("queries_warm", {}))
        if d.get("progress") == "query" and "name" in d:
            cold[d["name"]] = float(d.get("cold", 0.0))
            if "warm" in d:
                warm[d["name"]] = float(d["warm"])
        if d.get("progress") == "warm" and "name" in d and "warm" in d:
            warm[d["name"]] = float(d["warm"])
    return cold, warm


def parse_summary(lines):
    """The first `{"metric":"total",...}` record carrying `value`, or None
    (Bench prints the same summary twice)."""
    for d in json_records(lines):
        if d.get("metric") == "total" and "value" in d:
            return d
    return None


def parse_summary_echo(lines):
    """(top_cold, warm_echo) from the last summary's echo maps. A
    `warm_echo` value is a `[warm, cold, ...]` list (or a bare warm in
    older captures); list colds merge into top_cold, so the returned
    cold map is the whole attribution the summary carries."""
    summary = None
    for d in json_records(lines):
        if d.get("metric") == "total" and (
                isinstance(d.get("top_cold"), dict)
                or isinstance(d.get("warm_echo"), dict)):
            summary = d
    if summary is None:
        return {}, {}
    top_cold, warm_echo, pair_cold = {}, {}, {}
    for k, v in (summary.get("warm_echo") or {}).items():
        try:
            if isinstance(v, (list, tuple)):
                warm_echo[k] = float(v[0])
                if len(v) > 1 and v[1] is not None:
                    pair_cold[k] = float(v[1])
            else:
                warm_echo[k] = float(v)
        except (TypeError, ValueError, IndexError):
            warm_echo.pop(k, None)
    for k, v in (summary.get("top_cold") or {}).items():
        try:
            top_cold[k] = float(v)
        except (TypeError, ValueError):
            continue
    return {**pair_cold, **top_cold}, warm_echo


def merged_attribution(lines):
    """(cold, warm) maps: per-line records win (full precision), the
    summary echo fills names whose lines scrolled out of the tail."""
    lines = list(lines)
    pq_cold, pq_warm = parse_capture(lines)
    top_cold, warm_echo = parse_summary_echo(lines)
    return {**top_cold, **pq_cold}, {**warm_echo, **pq_warm}


def print_heaviest(cold, k=5):
    if not cold:
        print("benchguard: heaviest colds [NO COLD ATTRIBUTION] — no "
              "per-query lines and no top_cold echo in the capture")
        return
    top = sorted(cold.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    print("benchguard: heaviest colds — "
          + ", ".join(f"{n}={t:.2f}s" for n, t in top))


def newest_fixture_mtime(fixtures_dir):
    """Max mtime over every file under the fixtures root; None when the
    root is absent, so the check degrades to no check."""
    newest = None
    for root, _dirs, files in os.walk(fixtures_dir):
        for f in files:
            try:
                m = os.path.getmtime(os.path.join(root, f))
            except OSError:
                continue
            newest = m if newest is None else max(newest, m)
    return newest


def staleness_error(capture_path, fixtures_dir):
    """Non-None message when the capture predates the fixtures."""
    newest = newest_fixture_mtime(fixtures_dir)
    if newest is None:
        return None
    try:
        cap = os.path.getmtime(capture_path)
    except OSError:
        return None
    if cap < newest:
        return (f"capture {capture_path} (mtime {cap:.0f}) is OLDER than "
                f"the newest fixture under {fixtures_dir} (mtime "
                f"{newest:.0f}): re-run scripts/run_bench.sh and commit a "
                "fresh capture")
    return None


def capture_lines(text):
    """(lines, driver_origin). The BENCH_r{N}.json wrapper parses as ONE
    JSON object with a string `tail` and a wrapper-only `rc` or `parsed`
    key; its tail is re-split into lines and flagged driver-origin. Any
    other text is a raw JSONL capture."""
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        return text.splitlines(), False
    if isinstance(d, dict) and isinstance(d.get("tail"), str) \
            and ("rc" in d or "parsed" in d):
        return d["tail"].splitlines(), True
    return text.splitlines(), False


def check(lines, budget_s, label, driver_origin=False):
    """Print the verdict and return the exit code (0 OK, 1 over, 2 no
    data)."""
    lines = list(lines)
    slowdown = 1.0 if driver_origin else SLOWDOWN
    cold, warm = parse_capture(lines)
    summary = parse_summary(lines)
    if not cold and summary is None:
        print(f"benchguard: no per-query timings found in {label}")
        return 2
    est_pq = (sum(cold.values()) + sum(warm.values())) * slowdown \
        + OVERHEAD_S if cold else None
    sum_total = None if summary is None else \
        float(summary["value"]) + float(summary.get("total_warm", 0.0))
    est_sum = None if sum_total is None else sum_total * slowdown + OVERHEAD_S
    n_q = None if summary is None else summary.get("n_queries")
    # a driver tail can keep a few trailing per-query lines next to the
    # whole summary: coverage (n_queries) decides truncation, and a
    # truncated capture is judged on the larger of the two estimates
    truncated = bool(cold) and summary is not None and (
        len(cold) < n_q if n_q is not None else est_sum > est_pq + 1.0)
    if summary is not None and (not cold or (truncated and est_sum > est_pq)):
        est = est_sum
        basis = f"summary total {sum_total:.1f}s" \
            + (f" over {n_q} queries" if n_q is not None else "")
        basis = (basis + f" (per-query lines cover only {len(cold)} — "
                 "truncated capture)") if cold else \
            f"no per-query timings in {label}; using {basis}"
    else:
        est = est_pq
        basis = (f"{len(cold)} queries, measured {sum(cold.values()):.1f}s "
                 f"cold + {sum(warm.values()):.1f}s warm")
    top_cold, _ = parse_summary_echo(lines)
    if top_cold or (cold and not truncated):
        print_heaviest(merged_attribution(lines)[0])
    elif cold:
        # the surviving lines of a truncated tail are stragglers, not
        # the heaviest queries
        print("benchguard: heaviest colds [NO COLD ATTRIBUTION] — "
              f"truncated capture without a top_cold echo: the {len(cold)} "
              "surviving per-query lines are tail stragglers")
    else:
        print_heaviest({})
    verdict = "OK" if est <= budget_s else "OVER BUDGET"
    print(f"benchguard: {basis} -> estimated driver wall {est:.1f}s vs "
          f"budget {budget_s:.0f}s [{verdict}]")
    return 0 if est <= budget_s else 1


def compare(lines_a, label_a, lines_b, label_b, k=5):
    """Cold, cold_min and warm totals of two captures on their shared
    queries, plus the k largest per-query cold movers. Returns "REFUSED"
    when there is nothing to compare, "OK" otherwise."""
    cold_a, warm_a = merged_attribution(lines_a)
    cold_b, warm_b = merged_attribution(lines_b)
    inter = sorted(set(cold_a) & set(cold_b))
    if not inter:
        print(f"benchguard: compare [REFUSED] — no query has a cold in both "
              f"{label_a} ({len(cold_a)}) and {label_b} ({len(cold_b)})")
        return "REFUSED"

    def ratio(a, b):
        return f" ({a / b:.2f}x)" if b > 0 else ""

    def cold_min(cold, warm):
        return sum(min(cold[n], warm.get(n, cold[n])) for n in inter)

    ca = sum(cold_a[n] for n in inter)
    cb = sum(cold_b[n] for n in inter)
    ma, mb = cold_min(cold_a, warm_a), cold_min(cold_b, warm_b)
    print(f"benchguard: compare — {len(inter)} shared queries: cold "
          f"{ca:.1f}s vs {cb:.1f}s{ratio(ca, cb)}; cold_min {ma:.1f}s vs "
          f"{mb:.1f}s{ratio(ma, mb)}")
    wi = sorted(set(warm_a) & set(warm_b))
    if wi:
        wa = sum(warm_a[n] for n in wi)
        wb = sum(warm_b[n] for n in wi)
        print(f"benchguard: compare — {len(wi)} shared warm rows: warm "
              f"{wa:.1f}s vs {wb:.1f}s{ratio(wa, wb)}")
    else:
        print("benchguard: compare — no shared warm rows")
    movers = sorted(inter, key=lambda n: (-abs(cold_a[n] - cold_b[n]), n))[:k]
    print("benchguard: compare — cold movers: "
          + ", ".join(f"{n} {cold_a[n]:.2f}s vs {cold_b[n]:.2f}s"
                      f"{ratio(cold_a[n], cold_b[n])}" for n in movers))
    only_a, only_b = len(cold_a) - len(inter), len(cold_b) - len(inter)
    if only_a or only_b:
        print(f"benchguard: compare — excluded {only_a} queries only in "
              f"{label_a} and {only_b} only in {label_b}")
    return "OK"


def selftest():
    import contextlib
    import io
    import tempfile

    def run(fn, *args, **kw):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = fn(*args, **kw)
        return rc, buf.getvalue()

    def q(name, cold):
        return json.dumps({"progress": "query", "name": name, "cold": cold,
                           "streaming": False})

    def w(name, warm):
        return json.dumps({"progress": "warm", "name": name, "warm": warm})

    def total(**kw):
        return json.dumps({"metric": "total", "unit": "sec", **kw})

    B = DEFAULT_BUDGET_S
    # 120 x (4 s cold + 3 s warm) * 1.3 + 100 = 1192 s: over
    over = [json.dumps({"progress": "query", "name": f"q{i}", "cold": 4.0,
                        "warm": 3.0}) for i in range(120)]
    assert run(check, over, B, "over")[0] == 1
    # pre-round-8 summary with embedded per-query maps: 100 x 2.5 s -> 425 s
    under = [total(value=150.0,
                   queries={f"q{i}": 1.5 for i in range(100)},
                   queries_warm={f"q{i}": 1.0 for i in range(100)})]
    assert run(check, under, B, "under")[0] == 0
    # nothing to judge is an error, never a silent pass
    assert run(check, [], B, "empty")[0] == 2
    assert run(check, ["[info] log noise", json.dumps(
        {"progress": "write", "name": "write_s7_gold", "sec": 0.4})],
        B, "no-data")[0] == 2
    # the current shape: progress lines + a compact summary; per-query
    # lines cover the run, so they are the basis
    full = ([q(f"q{i}", 3.0) for i in range(100)]
            + [w(f"q{i}", 0.1 + i * 0.01) for i in range(20)]
            + [total(value=300.0, total_warm=sum(0.1 + i * 0.01
                                                 for i in range(19, -1, -1)),
                     n_warm=20, n_queries=100, n_errors=0, cpus=4)])
    c, wm = parse_capture(full)
    assert len(c) == 100 and len(wm) == 20
    rc, out = run(check, full, B, "full")
    assert rc == 0 and "100 queries, measured 300.0s" in out \
        and "truncated" not in out and "heaviest colds — q0=3.00s" in out, out
    # tail-only summary: judged on value + total_warm
    assert run(check, [total(value=300.0, total_warm=40.0, n_queries=293)],
               B, "tail")[0] == 0
    assert run(check, [total(value=900.0, total_warm=100.0, n_queries=294)],
               B, "tail-over")[0] == 1
    # driver-origin timings are not scaled again: 700 s fits at 1.0x
    # (800 s) but not at 1.3x (1010 s)
    drv = [total(value=650.0, total_warm=50.0, n_queries=294)]
    assert run(check, drv, B, "drv", driver_origin=True)[0] == 0
    assert run(check, drv, B, "local")[0] == 1
    # truncated tail: 5 surviving 1 s lines must not preempt a 1000 s
    # summary, nor be named as the heaviest queries
    trunc = [q(f"q{i}", 1.0) for i in range(5)] \
        + [total(value=900.0, total_warm=100.0, n_queries=294)]
    rc, out = run(check, trunc, B, "trunc", driver_origin=True)
    assert rc == 1 and "cover only 5" in out \
        and "tail stragglers" in out, out
    # ... and without n_queries the magnitude fallback still flags it
    rc, out = run(check, trunc[:-1] + [total(value=900.0, total_warm=100.0)],
                  B, "trunc-legacy", driver_origin=True)
    assert rc == 1 and "truncated capture" in out, out
    # the summary echo names the heaviest colds once the lines are gone;
    # warm_echo pairs carry their own cold
    echo = [total(value=300.0, total_warm=40.0, n_queries=295,
                  top_cold={"q107_stream": 4.82, "q263_x": 3.9},
                  warm_echo={"q110_wedge": [4.1, 6.31],
                             "q102_shingle": [2.2, 4.11]})]
    rc, out = run(check, echo, B, "echo", driver_origin=True)
    assert rc == 0 and "heaviest colds — q110_wedge=6.31s, " \
        "q107_stream=4.82s, q102_shingle=4.11s" in out, out
    assert merged_attribution(echo)[1] == {"q110_wedge": 4.1,
                                           "q102_shingle": 2.2}
    # a malformed echo value is skipped, not fatal
    assert parse_summary_echo([total(value=1.0, warm_echo={"a": [],
                                                           "b": [1.0]})]) \
        == ({}, {"b": 1.0})
    # wrapper shape: unwrapped and flagged driver-origin; raw JSONL and a
    # lone summary line are not wrappers
    wrapper = json.dumps({"n": 21, "rc": 0, "cpus": 8, "tail": (
        '...partial line\n' + q("q1", 2.0) + "\n"
        + total(value=334.1, total_warm=38.1, n_queries=295) + "\n"),
        "parsed": None})
    wl, origin = capture_lines(wrapper)
    assert origin and len(wl) == 3
    rc, out = run(check, wl, B, "wrapper", driver_origin=origin)
    assert rc == 0 and "using summary total" not in out \
        and "cover only 1" in out, out
    raw = "\n".join(full) + "\n"
    assert capture_lines(raw) == (raw.splitlines(), False)
    assert capture_lines(full[-1]) == ([full[-1]], False)
    # staleness: a capture older than the newest fixture is refused; a
    # missing fixtures dir means no check
    with tempfile.TemporaryDirectory() as d:
        fixtures = os.path.join(d, "fixtures")
        os.makedirs(fixtures)
        cap = os.path.join(d, "capture.jsonl")
        fix = os.path.join(fixtures, "t.parquet")
        for p in (cap, fix):
            with open(p, "w") as f:
                f.write("x")
        os.utime(cap, (1000.0, 1000.0))
        os.utime(fix, (2000.0, 2000.0))
        assert staleness_error(cap, fixtures) is not None
        os.utime(cap, (3000.0, 3000.0))
        assert staleness_error(cap, fixtures) is None
        assert staleness_error(cap, os.path.join(d, "missing")) is None
    # compare: totals on the shared queries only, cold_min takes the warm
    # where it is lower, movers ranked by absolute cold delta
    a = [q("qa", 10.0), q("qb", 2.0), q("qc", 1.0), q("only_a", 9.0),
         w("qa", 4.0)]
    b = [q("qa", 5.0), q("qb", 2.5), q("qc", 1.0), w("qa", 4.5)]
    rc, out = run(compare, a, "A", b, "B", k=2)
    assert rc == "OK" and "3 shared queries: cold 13.0s vs 8.5s (1.53x)" \
        in out and "cold_min 7.0s vs 8.0s (0.88x)" in out \
        and "1 shared warm rows: warm 4.0s vs 4.5s" in out \
        and "cold movers: qa 10.00s vs 5.00s (2.00x), qb 2.00s vs 2.50s" \
        in out and "excluded 1 queries only in A and 0 only in B" in out, out
    rc, out = run(compare, a, "A", [q("zz", 1.0)], "B")
    assert rc == "REFUSED", out
    print("benchguard selftest: PASS")
    return 0


def main():
    args = sys.argv[1:]
    if args and args[0] == "--selftest":
        return selftest()
    if not args:
        print(__doc__)
        return 2

    def take(flag):
        if flag not in args:
            return None
        i = args.index(flag)
        value = args[i + 1]
        del args[i:i + 2]
        return value

    budget = float(take("--budget") or DEFAULT_BUDGET_S)
    fixtures = take("--fixtures") or DEFAULT_FIXTURES
    other_path = take("--compare")
    if "--no-staleness-check" in args:
        args.remove("--no-staleness-check")
        fixtures = None
    if fixtures is not None:
        err = staleness_error(args[0], fixtures)
        if err is not None:
            print(f"benchguard: STALE BASELINE — {err}")
            return 2
    with open(args[0]) as f:
        lines, driver_origin = capture_lines(f.read())
    rc = check(lines, budget, args[0], driver_origin=driver_origin)
    if other_path is not None:
        with open(other_path) as f:
            other, _ = capture_lines(f.read())
        compare(lines, args[0], other, other_path)
    return rc


if __name__ == "__main__":
    sys.exit(main())
