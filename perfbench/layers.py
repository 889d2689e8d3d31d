"""Per-layer numbers from the span tree the harness writes.

The tree is workload → pass → query → {build, plan, write} → job → stage;
`action` spans (one per Dataset action, with its planning phases) carry
no parent and are placed by time. Every number is taken over one traced
warm pass and reported as the median over the traced passes among the
run's steady warm passes (the later half); `spark.codegen.cold_*` and
`jvm.cold_wall_s` are the cold pass's."""
import statistics
from collections import defaultdict

MB = 1e6
# Jobs count for Pin when Pin.scala started them, and for the operator
# module whose frame is innermost in their call stack, Pin aside, since
# the other operators start most of their jobs through Pin.
OPERATORS = ["Dedup", "Graphs", "Similarity", "TextOps"]
# A query's build, plan and write spans must cover this share of its wall.
CLOSURE = 0.95
# Job stamps are whole milliseconds, so a job counts as inside a query's
# window only when it overlaps it by more than this.
SLACK_NS = 5_000_000


def seconds(s):
    return (s["end"] - s["start"]) / 1e9


def union_s(intervals, lo, hi):
    """Length in seconds of the union of INTERVALS clipped to [LO, HI]."""
    total, cur_start, cur_end = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1e9


def call_site_file(name):
    """'head at Graphs.scala:219' → 'Graphs'."""
    return name.rpartition(" at ")[2].partition(".scala:")[0]


def operator(job):
    """The operator module innermost in JOB's call stack, or None."""
    for line in job.get("stack", "").splitlines():
        f = line.rpartition("(")[2].partition(".scala:")[0]
        if f in OPERATORS:
            return f
    return None


class Tree:
    def __init__(self, spans):
        self.children = defaultdict(list)
        for s in spans:
            self.children[s["parent"]].append(s)
        self.actions = [s for s in spans if s["kind"] == "action"]
        # Jobs outside any job group the harness set.
        self.orphans = [s for s in self.children[0] if s["kind"] == "job"]
        self.passes = [s for s in spans if s["kind"] == "pass"]

    def kids(self, span, kind):
        return [c for c in self.children[span["id"]] if c["kind"] == kind]


def pass_layers(tree, p):
    """Layer numbers and closure checks for one traced pass P."""
    m = defaultdict(float)
    closure = []
    for q in tree.kids(p, "query"):
        parts = {k: tree.kids(q, k) for k in ("build", "plan", "write")}
        jobs = [j for spans in parts.values() for s in spans for j in tree.kids(s, "job")]
        wall = seconds(q)
        in_jobs = union_s([(j["start"], j["end"]) for j in jobs], q["start"], q["end"])
        covered = sum(seconds(s) for spans in parts.values() for s in spans)
        # A job that ran inside the query's window but missed its job
        # groups would be counted as time outside jobs.
        orphans = [j for j in tree.orphans
                   if j["start"] < q["end"] - SLACK_NS and j["end"] > q["start"] + SLACK_NS]
        closure.append({"query": q["name"], "wall_s": wall, "covered_s": covered,
                        "orphan_jobs": len(orphans)})
        m["queries.build_s"] += sum(seconds(s) for s in parts["build"])
        m["queries.build_jobs"] += sum(len(tree.kids(s, "job")) for s in parts["build"])
        m["GraftExtensions.final_plan_s"] += sum(seconds(s) for s in parts["plan"])
        m["driver.write_s"] += sum(seconds(s) for s in parts["write"])
        m["driver.outside_jobs_s"] += wall - in_jobs
        m["spark.scheduler.job_s"] += in_jobs
        m["operators.Dedup.cc_rounds"] += q["attrs"].get("cc_rounds", 0)
        m["spark.scheduler.jobs"] += len(jobs)
        owners = {"Pin": [j for j in jobs if call_site_file(j["name"]) == "Pin"]}
        for op in OPERATORS:
            owners[op] = [j for j in jobs if operator(j) == op]
        for op, mine in owners.items():
            m[f"operators.{op}.jobs"] += len(mine)
            m[f"operators.{op}.job_s"] += sum(seconds(j) for j in mine)
        for j in jobs:
            for st in tree.kids(j, "stage"):
                a = st["attrs"]
                m["spark.scheduler.stages"] += 1
                m["spark.scheduler.tasks"] += a.get("tasks", 0)
                m["spark.scheduler.failed_tasks"] += a.get("failed_tasks", 0)
                for k in ("task_cpu_s", "task_run_s", "task_wait_s"):
                    m[f"spark.scheduler.{k}"] += a.get(k, 0)
                m["Tables.scan_mb"] += a.get("input_bytes", 0) / MB
                m["Tables.scan_rows"] += a.get("input_rows", 0)
                m["spark.shuffle.exchanges"] += a.get("exchange", 0)
                m["spark.shuffle.read_mb"] += a.get("shuffle_read_bytes", 0) / MB
                m["spark.shuffle.write_mb"] += a.get("shuffle_write_bytes", 0) / MB
                m["spark.shuffle.max_write_mb"] = max(
                    m["spark.shuffle.max_write_mb"], a.get("shuffle_write_bytes", 0) / MB)
                m["spark.shuffle.fetch_wait_s"] += a.get("fetch_wait_s", 0)
                m["spark.shuffle.spill_mb"] += a.get("spill_bytes", 0) / MB
    acts = [a for a in tree.actions if p["start"] <= a["start"] <= p["end"]]
    m["GraftExtensions.actions"] = len(acts)
    m["GraftExtensions.plan_s"] = sum(
        a["attrs"][k] for a in acts for k in ("analysis_s", "optimization_s", "planning_s"))
    m["jvm.gc_s"] = p["attrs"]["gc_s"]
    m["jvm.process_cpu_s"] = p["attrs"]["proc_cpu_s"]
    m["jvm.peak_heap_mb"] = p["attrs"]["peak_heap_mb"]
    m["spark.codegen.compile_s"] = p["attrs"]["codegen_s"]
    m["spark.codegen.classes"] = p["attrs"]["codegen_classes"]
    return m, closure


def closure_failures(closure):
    """Queries whose phase spans leave more than 5% of their wall
    uncovered, or during which a job ran that is not in their subtree, so
    that its time would land in driver.outside_jobs_s."""
    return [c["query"] for c in closure
            if c["covered_s"] < CLOSURE * c["wall_s"] or c["orphan_jobs"]]


def per_layer(spans, passes, steady):
    """The per-layer metrics of a traced run, and the closure failures of
    all its traced passes.
    PASSES is the harness's pass summary, for the tracing overhead, and
    STEADY the indices of the passes to take numbers from."""
    tree = Tree(spans)
    per_pass, closure, failures = [], [], []
    for p in tree.passes:
        m, c = pass_layers(tree, p)
        failures += [f"{q} in pass {p['attrs']['index']}" for q in closure_failures(c)]
        if p["attrs"]["index"] in steady:
            per_pass.append(m)
            closure += c
    cold = [p for p in tree.passes if p["attrs"]["index"] == 0]
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["spark.codegen.cold_compile_s"] = cold[0]["attrs"]["codegen_s"]
    out["spark.codegen.cold_classes"] = cold[0]["attrs"]["codegen_classes"]
    out["jvm.cold_wall_s"] = passes[0]["wall_s"]
    wall = sum(c["wall_s"] for c in closure)
    out["trace.unattributed_share"] = 1 - sum(c["covered_s"] for c in closure) / wall
    timed = [passes[i] for i in steady]
    for key in ("wall_s", "cpu_s"):
        on = statistics.median(p[key] for p in timed if p["traced"])
        off = statistics.median(p[key] for p in timed if not p["traced"])
        out[f"trace.overhead_{key}"] = on - off
    return out, failures
