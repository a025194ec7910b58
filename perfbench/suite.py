"""Metrics of the query_suite workload, and its golden row counts."""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# The query modules SparkEntry aggregates; QuerySuite.Modules checks its own
# copy of this list against SparkEntry.queries.
MODULES = (
    "Aggregates", "Behavioral", "Dedup", "EntityResolution", "GraphQueries",
    "GridQueries", "Monitoring", "Multimodal", "Pca", "Privacy", "Probe",
    "Relational", "Scalars", "Similarity", "SourceQueries", "Streaming",
    "TextAnalysis", "WindowOps")

# Query families reported as a whole: the snapshot table format and the
# raster grid.
FAMILIES = {
    "snapshot": ("q_snapshot_", "q_mview_", "q_time_travel"),
    "grid": ("q_grid_",),
}


# The tables the queries read: the TPC-H-ish sf0.001 fixture, kept with the
# benchmark so a run reads nothing outside its checkout.
SF_DIR = os.path.join(HERE, "data", "sf0.001")


# Row counts of every declared query over SF_DIR.
GOLDEN = os.path.join(HERE, "golden", "query_counts.sf0.001.json")


def check_counts(doc, record):
    """Compare the observed row counts with the golden file; with `record`,
    write the observed counts into the golden file instead. Returns the
    failures and the queries whose count was wrong."""
    counts = doc["counts"]
    if record:
        golden = {}
        if os.path.exists(GOLDEN):
            with open(GOLDEN) as fh:
                golden = json.load(fh)
        golden.update(counts)
        with open(GOLDEN, "w") as fh:
            json.dump(dict(sorted(golden.items())), fh, indent=1)
            fh.write("\n")
        print(f"perfbench: wrote {len(counts)} golden counts to {GOLDEN}", file=sys.stderr)
        return [], set()
    if not os.path.exists(GOLDEN):
        return [f"no golden counts ({GOLDEN}); record them with --record-golden"], set()
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    wrong = sorted(q for q, c in counts.items() if golden.get(q) != c)
    errors = [f"{q}: count {counts[q]}, golden {golden.get(q)}" for q in wrong]
    missing = sorted(set(doc["subset"]) - set(counts))
    if missing:
        errors.append(f"queries not run: {', '.join(missing[:10])}")
    return errors, set(wrong)


def fail_wrong_counts(doc, bad):
    """Marks each sample of a query in `bad` as failed; the samples follow
    `order`, pass after pass."""
    order = doc["order"]
    for i, s in enumerate(doc["samples"]):
        if order[i % len(order)] in bad:
            s[2] = 0


def metrics(doc, args, engine_layers, end_to_end):
    count_errors, wrong = check_counts(doc, args.record_golden)
    fail_wrong_counts(doc, wrong)
    errors = list(doc["errors"]) + count_errors
    if set(doc["module_of"].values()) != set(MODULES):
        errors.append(f"module list differs from QuerySuite.Modules: "
                      f"{sorted(set(doc['module_of'].values()) ^ set(MODULES))}")
    if not args.trace:
        return end_to_end(doc), errors
    ops = doc["ops"]
    spans = {s["op"]: (s["start_us"], s["end_us"]) for s in doc["spans"]}
    m, _ = engine_layers(doc, [o["op"] for o in ops], spans)
    module_ms = {}
    for o in ops:
        module_ms[o["module"]] = module_ms.get(o["module"], 0.0) + o["traced_ms"]
    for name in MODULES:
        m[f"module.{name}_s"] = (module_ms.get(name, 0.0) / 1000.0, "s")
    for fam, prefixes in FAMILIES.items():
        m[f"family.{fam}_s"] = (sum(o["traced_ms"] for o in ops
                                    if o["query"].startswith(prefixes)) / 1000.0, "s")
    m["setup.layout_prep_s"] = (doc["setup"]["layout_prep_s"], "s")
    m["setup.warmup_s"] = (doc["setup"]["warmup_s"], "s")
    n = max(1, len(ops))
    m["trace.ops"] = (len(ops), "count")
    m["trace.overhead_ms_per_op"] = (sum(o["traced_ms"] - o["untraced_ms"] for o in ops) / n, "ms")
    return m, errors
