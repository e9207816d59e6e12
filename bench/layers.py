"""Per-layer figures of a traced run, computed from the JVM's records.

The span tree is run -> pass -> query -> {construct, execute} -> Spark
job. A span's self time is its duration minus the part of it that its
children cover; times are in milliseconds since the run started.
"""
import re
from statistics import median

PLAN_RULE_PREFIX = "graft.plans."


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), clipped
    to [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """Duration of `span` not covered by any of `children`."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def spans(result):
    """The run's span tree as a flat list of {id, parent, kind, name,
    start, end}. Jobs appear for traced passes only, and there each
    query span also carries its Catalyst phase and graft rule times."""
    out = [{"id": 0, "parent": None, "kind": "run", "name": "run",
            "start": result["measure_start_ms"], "end": result["measure_end_ms"]}]

    def add(parent, kind, name, start, end, **attrs):
        out.append(dict(attrs, id=len(out), parent=parent, kind=kind,
                        name=name, start=start, end=end))
        return len(out) - 1

    pass_ids = {}
    for p in result["passes"]:
        pass_ids[p["pass"]] = add(0, "pass", f"pass{p['pass']}",
                                  p["start_ms"], p["end_ms"])
    for s in result["samples"]:
        planning = ({"catalyst_ms": s["catalyst_ms"], "rules": s["rules"]}
                    if s["traced"] else {})
        q = add(pass_ids[s["pass"]], "query", s["name"], s["start_ms"], s["end_ms"],
                **planning)
        mid = s["construct_end_ms"]
        c = add(q, "construct", s["name"], s["start_ms"], mid)
        e = add(q, "execute", s["name"], mid, s["end_ms"])
        for j in s.get("jobs", []):
            if j["end_ms"] < 0:
                continue
            add(c if j["start_ms"] < mid else e, "job", label_of(j["label"]),
                j["start_ms"], j["end_ms"])
    return out


def self_times(span_list, traced_passes):
    """Total self time in seconds per span kind, over the spans under the
    traced passes."""
    children = {}
    for sp in span_list:
        children.setdefault(sp["parent"], []).append(sp)
    keep = set()
    for sp in span_list:
        if sp["kind"] == "pass" and sp["name"] in traced_passes:
            stack = [sp]
            while stack:
                x = stack.pop()
                keep.add(x["id"])
                stack.extend(children.get(x["id"], []))
    totals = {}
    for sp in span_list:
        if sp["id"] in keep:
            t = self_time(sp, children.get(sp["id"], []))
            totals[sp["kind"]] = totals.get(sp["kind"], 0.0) + t / 1000.0
    return totals


UNLABELLED = "(unlabelled)"
STREAM_BATCH = re.compile(r"^(.*?)\s*\nid = [0-9a-f-]+\nrunId = [0-9a-f-]+\nbatch = \d+$",
                          re.S)


def label_of(description):
    """A job's `spark.job.description` as a stable label: a streaming
    micro-batch (whose description carries run ids) becomes "stream
    batch", and a path becomes its last component."""
    if not description:
        return UNLABELLED
    m = STREAM_BATCH.match(description)
    if m:
        return (m.group(1).strip() + " stream batch").strip()
    return " ".join(w.rstrip("/").rsplit("/", 1)[-1] if "/" in w else w
                    for w in description.split())


def metric_name(label):
    """A label's family (the part before its first colon, as in
    "mjr:lineitem append partial block") as a metric-name fragment."""
    family = label.split(":", 1)[0]
    return re.sub(r"[^A-Za-z0-9_.-]+", "_", family).strip("_")[:40] or "unlabelled"


def query_breakdown(s):
    """Where one traced query's wall time went: job seconds per label,
    time no job was running (driver gap), streaming machinery."""
    lo, hi = s["start_ms"], s["end_ms"]
    jobs = [j for j in s["jobs"] if j["end_ms"] >= 0]
    by_label = {}
    for j in jobs:
        by_label.setdefault(label_of(j["label"]), []).append(
            (j["start_ms"], j["end_ms"]))
    job_s = union_length([(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi) / 1000
    wall = (hi - lo) / 1000
    st = s["streaming"]
    machinery = (st.get("trigger_ms", 0) - st.get("add_batch_ms", 0)) / 1000
    labels = {k: union_length(v, lo, hi) / 1000 for k, v in by_label.items()}
    gap = wall - job_s
    return {
        "wall_s": wall,
        "construct_s": s["construct_ms"] / 1000,
        "execute_s": s["execute_ms"] / 1000,
        "label_s": labels,
        "label_tasks": {k: sum(j["tasks"] for j in jobs if label_of(j["label"]) == k)
                        for k in by_label},
        "job_s": job_s,
        "driver_gap_s": gap,
        "streaming_machinery_s": machinery,
        # every job second sits in exactly one label bucket, so this is 1
        # unless jobs of different labels overlap
        "accounted_share": (sum(labels.values()) + gap) / wall if wall else 0.0,
    }


def per_layer(result, layer_names):
    """Per-layer metrics of a traced run, each the total over its traced
    passes divided by their number; every name in `layer_names` is
    present (0 where the layer did no work)."""
    traced = [s for s in result["samples"] if s["traced"]]
    n_pass = len({s["pass"] for s in traced})
    if not n_pass:
        raise ValueError("traced run has no traced pass")
    totals = dict.fromkeys(layer_names, 0.0)

    def add(name, v):
        totals[name] = totals.get(name, 0.0) + v

    for s in traced:
        b = query_breakdown(s)
        add("SparkEntry.construct_s", b["construct_s"])
        add("execute_s", b["execute_s"])
        add("spark.driver_gap_s", b["driver_gap_s"])
        add("jvm.gc_s", s["gc_ms"] / 1000)
        for phase, intervals in s["catalyst_ms"].items():
            add(f"catalyst.{phase}_s",
                union_length(intervals, s["start_ms"], s["end_ms"]) / 1000)
        for rule, r in s["rules"].items():
            if not rule.startswith(PLAN_RULE_PREFIX):
                continue
            short = "plans." + rule[len(PLAN_RULE_PREFIX):].split("$")[0]
            add(f"{short}.rule_s", r["time_ms"] / 1000)
            add(f"{short}.rule_calls", r["calls"])
            add(f"{short}.rule_effective", r["effective"])
        for j in s["jobs"]:
            add("spark.jobs", 1)
            add("spark.stages", j["stages"])
            add("spark.tasks", j["tasks"])
            add("spark.task_run_s", j["task_run_ms"] / 1000)
            add("spark.task_cpu_s", j["task_cpu_ms"] / 1000)
            for k in ("scan_bytes", "scan_rows", "shuffle_write_bytes",
                      "output_bytes", "output_rows"):
                add(f"io.{k}", j[k])
        for label, sec in b["label_s"].items():
            if label == UNLABELLED:
                continue
            add(f"label.{metric_name(label)}_s", sec)
            add(f"label.{metric_name(label)}_tasks", b["label_tasks"][label])
            add("label.total_s", sec)
            add("label.total_tasks", b["label_tasks"][label])
        st = s["streaming"]
        for k in ("queries", "batches", "input_rows", "state_rows", "state_bytes"):
            add(f"streaming.{k}", st.get(k, 0))
        add("streaming.trigger_s", st.get("trigger_ms", 0) / 1000)
        add("streaming.add_batch_s", st.get("add_batch_ms", 0) / 1000)
        add("streaming.machinery_s", b["streaming_machinery_s"])
    traced_names = {f"pass{p}" for p in {s["pass"] for s in traced}}
    for kind, sec in self_times(spans(result), traced_names).items():
        add(f"self.{kind}_s", sec)
    m = {k: v / n_pass for k, v in totals.items()}
    for short in {k.rsplit(".", 1)[0] for k in m if k.endswith(".rule_calls")}:
        calls = m[f"{short}.rule_calls"]
        m[f"{short}.rule_effective_ratio"] = (
            m[f"{short}.rule_effective"] / calls if calls else 0.0)

    # once per run, not per pass
    timed = {}
    for s in result["samples"]:
        if not s["traced"] and s["ok"]:
            timed.setdefault(s["name"], []).append(s["construct_ms"] + s["execute_ms"])
    m["Sessions.start_s"] = result["session_ms"] / 1000
    m["setup.build_s"] = sum(
        max(0.0, w["ms"] - median(timed[w["name"]])) for w in result["warm"]
        if w["name"] in timed) / 1000
    pass_ms = {True: [], False: []}
    for p in result["passes"]:
        pass_ms[p["traced"]].append(p["end_ms"] - p["start_ms"])
    m["trace.overhead_s"] = (median(pass_ms[True]) - median(pass_ms[False])) / 1000
    return m


def breakdown_by_query(breakdowns):
    """Median of each query's breakdowns over the traced passes; a label
    missing from a pass counts as 0 s there."""
    by_name = {}
    for b in breakdowns:
        by_name.setdefault(b["name"], []).append(b)
    out = {}
    for name, bs in sorted(by_name.items()):
        labels = sorted({k for b in bs for k in b["label_s"]})
        row = {k: median([b[k] for b in bs]) for k in
               ("wall_s", "construct_s", "execute_s", "job_s", "driver_gap_s",
                "streaming_machinery_s", "accounted_share")}
        row["label_s"] = {k: median([b["label_s"].get(k, 0.0) for b in bs])
                          for k in labels}
        row["passes"] = len(bs)
        out[name] = row
    return out
