"""Statistics and output checks of the graft benchmark (no Spark, no JVM).

run.py turns the raw measurements a JVM run leaves in result.json into
metrics with these functions; tests/ checks them on made-up inputs.
"""
import contextlib
import importlib.util
import io
import math
import re

# a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank q-th percentile of `values`, or None when fewer than
    MIN_BEYOND samples lie strictly above it."""
    xs = sorted(values)
    if not xs:
        return None
    v = xs[max(1, math.ceil(q / 100.0 * len(xs))) - 1]
    beyond = sum(1 for x in xs if x > v)
    return v if beyond >= MIN_BEYOND else None


def median(values):
    xs = sorted(values)
    if not xs:
        return None
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def cycle_rate(batch_s, docs_per_batch, per_cycle):
    """Docs per second of a closed-loop phase: the docs of one cycle over
    the median cycle time. The batch times (s) are summed in consecutive
    groups of `per_cycle` batches, one compaction cycle each; an
    unfinished last cycle is left out."""
    n = len(batch_s) // per_cycle
    if n == 0:
        return None
    cycles = [sum(batch_s[i * per_cycle:(i + 1) * per_cycle]) for i in range(n)]
    return docs_per_batch * per_cycle / median(cycles)


def open_loop_latencies(ticks, batches):
    """Latency (ms) of each send of an open-loop phase, from its due time
    to the commit of the batch that held it. The docs of one send share
    their latency, so the sends are the samples a percentile counts.

    ticks:   [{"due_ns", "sent_ns", "offset", "docs"}] - one send each
    batches: [{"start_offset", "end_offset", "commit_ns"}] - a batch holds
             the offsets in (start_offset, end_offset]
    Returns (latencies, uncommitted_docs)."""
    out, missing = [], 0
    spans = sorted((b["start_offset"], b["end_offset"], b["commit_ns"])
                   for b in batches)
    for t in ticks:
        commit = next((c for s, e, c in spans if s < t["offset"] <= e), None)
        if commit is None:
            missing += t["docs"]
            continue
        out.append((commit - t["due_ns"]) / 1e6)
    return out, missing


def backlog_rows(ticks, batches):
    """Docs sent but not yet committed when each batch of the open-loop
    phase started."""
    sizes = {t["offset"]: t["docs"] for t in ticks}
    res = []
    for b in batches:
        sent = sum(t["docs"] for t in ticks if t["sent_ns"] <= b["start_ns"])
        done_to = max([c["end_offset"] for c in batches
                       if c["commit_ns"] <= b["start_ns"]], default=-1)
        done = sum(n for off, n in sizes.items() if off <= done_to)
        res.append(sent - done)
    return res


def oracle_check(check_py, input_dir, verify_dir):
    """Runs the repository's own oracle comparison, tools/check.py
    (passed as `check_py`), on the Spark results under verify_dir: each
    key's parquet against its SQL in verify_dir/oracle_sql.json, run in
    DuckDB on the input files. Returns {key: None if it passes, else
    check.py's verdict line}."""
    spec = importlib.util.spec_from_file_location("graft_check", check_py)
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(input_dir, verify_dir)
    res = {}
    for line in out.getvalue().splitlines():
        m = re.match(r"(\S+)\s+(\S+): ", line)
        if m:
            res[m.group(2)] = None if m.group(1).startswith("PASS") else line
    return res


def shingle_set(text, n=3):
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def near_dup_pairs(docs, probe_ids, threshold=0.8):
    """Exact set of pairs (a, b), a < b, with 3-gram shingle Jaccard at
    least `threshold` and at least one side in probe_ids, with their
    Jaccard. docs: {doc_id: text}. Prefix filtering under a global
    rarest-first shingle order finds every candidate; each is verified
    exactly."""
    sets = {d: shingle_set(t) for d, t in docs.items()}
    sets = {d: s for d, s in sets.items() if s}
    freq = {}
    for s in sets.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    index = {}
    prefix = {}
    for d, s in sets.items():
        order = sorted(s, key=lambda g: (freq[g], g))
        # |S| - ceil(t|S|) + 1 tokens suffice; one more is harmless
        k = len(order) - int(threshold * len(order)) + 1
        prefix[d] = order[:k]
        for g in prefix[d]:
            index.setdefault(g, []).append(d)
    out = {}
    for d in probe_ids:
        if d not in sets:
            continue
        for g in prefix[d]:
            for o in index[g]:
                if o == d:
                    continue
                a, b = min(d, o), max(d, o)
                if (a, b) in out:
                    continue
                sa, sb = sets[a], sets[b]
                inter = len(sa & sb)
                j = inter / (len(sa) + len(sb) - inter)
                if j >= threshold:
                    out[(a, b)] = j
    return out


def pair_check(committed, reference, miss_allowance=0.001):
    """Compares committed pairs [(a, b, jaccard)] with the exact
    reference. Every committed pair must be a reference pair with the
    same Jaccard (to 1e-6) and no pair may repeat; the banded-LSH
    candidate step may miss a reference pair with probability about
    (1 - J^2)^8, so up to miss_allowance of the reference pairs (at
    least one) may be missing. Returns (spurious, missing, allowed)."""
    seen, spurious = set(), []
    for a, b, j in committed:
        p = (a, b)
        if p in seen or p not in reference or abs(reference[p] - j) > 1e-6:
            spurious.append(p)
        seen.add(p)
    missing = [p for p in reference if p not in seen]
    allowed = max(1, int(miss_allowance * len(reference)))
    return spurious, missing, allowed


def self_times(spans):
    """Self time per span name: a span's time minus the part of it that
    spans nested inside it (same op, interval containment) cover."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for group in by_op.values():
        group.sort(key=lambda s: (s["start_us"], -s["end_us"]))
        children = {id(s): [] for s in group}
        stack = []
        for s in group:
            while stack and stack[-1]["end_us"] < s["end_us"]:
                stack.pop()
            if stack:
                children[id(stack[-1])].append(s)
            stack.append(s)
        for s in group:
            cov, end = 0, s["start_us"]
            for c in sorted(children[id(s)], key=lambda c: c["start_us"]):
                a = max(c["start_us"], end)
                if c["end_us"] > a:
                    cov += c["end_us"] - a
                    end = c["end_us"]
            agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0,
                                             "self_ms": 0.0})
            agg["count"] += 1
            agg["total_ms"] += (s["end_us"] - s["start_us"]) / 1000.0
            agg["self_ms"] += (s["end_us"] - s["start_us"] - cov) / 1000.0
    return out
