"""The benchmark's workloads: which tasks each runs and which inputs it needs.

Each workload isolates different layers of graft (see README.md):
  tuktu_ops      engine / catalyst / scheduler / sources / sinks: short
                 Tuktu-surface queries, plus Tuktu JSON flows through
                 engine.Flow with text sources and real sinks
  corpus_stream  operators / plans / executor / shuffle / streaming: text-heavy
                 LLM operators and a micro-batch replay over one seeded corpus
"""
import os

import gen

# Every list is fixed: the same tasks run on every commit and every seed.
# The lists are small because every run starts its own JVM and pays a
# cold warm-up for each distinct task (about 0.5-1 s per query here).

# Tuktu-surface queries (QueriesCore / QueriesExtra): aggregation, the Tuktu
# predicate grammar, a join, sort/limit and event-time sessionization
TUKTU_OPS = """
agg_by_value packet_filter join_inner sort_take sessionization
""".split()

# text-heavy LLM operators (QueriesLLM): a quality filter and unigram
# segmentation (the most executor and shuffle work per task)
CORPUS_TEXT = """
gopher_filter unigram_segment
""".split()

# a micro-batch replay: stateful dedup across two batches
STREAM_REPLAY = """
streaming_dedup_2batch
""".split()

# Nominal time of one timed pass on a 4-core box. A run of `seconds` makes
# round(seconds / PASS_S) passes (at least one): the work is fixed by the
# arguments, so both sides of an A/B comparison run the same passes and sit
# at the same point of JIT warm-up.
PASS_S = 4
# Untimed passes after the warm-up (set-up time). The first passes after a
# cold start are 10-20% slower each than the one before, and how fast the
# JIT gets through them depends on the host, so they are not measured.
SETTLE_PASSES = 1

# ---------------------------------------------------------------- flows
# Tuktu JSON flow configs, run through engine.Flow.run with `#{...}` vars.
# `sinks` names the graft Sinks call per terminal; `oracle` is the DuckDB
# query each terminal's written output must equal (views `li` over the CSV
# read as text, `ev` over the JSON lines). Every sum is over integers held
# in doubles, so it is exact in any order.

FLOWS = {
    "purchases_by_user": {
        "input": "events.json",
        "flow": {
            "generators": [{"id": "src", "name": "json", "config": {"path": "#{events}"},
                            "next": ["buy"]}],
            "processors": [
                {"id": "buy", "name": "filter", "next": ["score"],
                 "config": {"predicate": "${event_type} == \"purchase\""}},
                {"id": "score", "name": "arithmetic", "next": ["rename"],
                 "config": {"expression": "${value_cents} + ${props.k}", "result": "score"}},
                {"id": "rename", "name": "field_rename", "next": ["agg"],
                 "config": {"fields": {"user_id": "user"}}},
                {"id": "agg", "name": "aggregate", "next": [],
                 "config": {"group": ["user"],
                            "aggs": {"n": "count(event_id)", "total": "sum(value_cents)",
                                     "best": "max(score)"}}}]},
        "sinks": {"agg": "parquet"},
        "oracle": {"agg": """
            SELECT user_id AS "user", count(event_id) AS n, sum(value_cents::DOUBLE) AS total,
                   max((value_cents + props.k)::DOUBLE) AS best
            FROM ev WHERE event_type = 'purchase' GROUP BY user_id"""},
    },
    "low_discount_export": {
        "input": "lineitem.csv",
        "flow": {
            "generators": [{"id": "src", "name": "csv", "config": {"path": "#{lineitem}"},
                            "next": ["d"]}],
            "processors": [
                {"id": "d", "name": "arithmetic", "next": ["low"],
                 "config": {"expression": "${disc_pct} + 0", "result": "d"}},
                {"id": "low", "name": "filter", "next": ["gross"],
                 "config": {"predicate": "${d} < 2.5"}},
                {"id": "gross", "name": "arithmetic", "next": ["ret"],
                 "config": {"expression": "${price_cents} * ${qty}", "result": "gross_cents"}},
                {"id": "ret", "name": "predicate_field", "next": ["out"],
                 "config": {"predicate": "${flag} == \"R\"", "result": "returned"}},
                {"id": "out", "name": "field_filter", "next": [],
                 "config": {"fields": {"id": "id", "orderkey": "order_key",
                                       "gross_cents": "gross", "returned": "returned",
                                       "shipdate": "shipdate"}}}]},
        "sinks": {"out": "json"},
        "oracle": {"out": """
            SELECT id, orderkey AS order_key, price_cents::DOUBLE * qty::DOUBLE AS gross,
                   flag = 'R' AS returned, shipdate
            FROM li WHERE disc_pct::DOUBLE < 2.5"""},
    },
}


class Workload:
    """A named set of tasks and the generator of their inputs.

    `tables` (None for all) are written at scale factor `sf`; `docs` is
    (base documents, token-suffixed copies) for a replicated corpus;
    `flow_rows` > 0 adds the flows and their CSV / JSON inputs."""

    def __init__(self, name, tasks, sf, docs=None, flow_rows=0, tables=None):
        self.name, self.tasks, self.sf = name, tasks, sf
        self.docs, self.flow_rows, self.tables = docs, flow_rows, tables

    def generate(self, out, seed):
        """Writes the inputs; returns their paths and row / byte counts."""
        info = {"data_dir": os.path.join(out, "tables"), "rows": {}}
        texts = None
        if self.docs:
            base, copies = self.docs
            texts = gen.replicate_texts(gen.gen_texts(seed, base), copies)
        info["rows"].update(gen.gen_tables(info["data_dir"], seed, self.sf, docs=texts,
                                           only=self.tables))
        dirs = [info["data_dir"]]
        if self.flow_rows:
            info["flow_dir"] = os.path.join(out, "flows")
            info["rows"].update(gen.gen_flow_inputs(info["flow_dir"], seed, self.flow_rows))
            dirs.append(info["flow_dir"])
        info["files"] = gen.describe(dirs)
        return info

    def plan(self, work, inputs, seed, seconds, trace):
        tasks = [{"name": t, "kind": "suite"} for t in self.tasks]
        if self.flow_rows:
            for name, f in FLOWS.items():
                tasks.append({"name": name, "kind": "flow", "flow": f["flow"], "sinks": f["sinks"],
                              "vars": {"lineitem": os.path.join(inputs["flow_dir"], "lineitem.csv"),
                                       "events": os.path.join(inputs["flow_dir"], "events.json")}})
        return {"workload": self.name, "data_dir": inputs["data_dir"], "out_dir": work,
                "seed": seed, "trace": trace, "settle_passes": SETTLE_PASSES,
                # a traced run doubles the passes: half untraced, half traced
                "passes": max(1, round(seconds / PASS_S)) * (2 if trace else 1),
                "tasks": tasks}

    def throughput(self, inputs, task):
        """(unit, items) one run of `task` processes: corpus documents for a
        text query, input rows for a flow; None for the rest."""
        if task in FLOWS:
            return "rows", inputs["rows"][FLOWS[task]["input"]]
        if task in CORPUS_TEXT:
            return "docs", inputs["rows"]["documents"]
        return None


WORKLOADS = {w.name: w for w in [
    Workload("tuktu_ops", TUKTU_OPS, sf=0.01, flow_rows=30_000),
    Workload("corpus_stream", CORPUS_TEXT + STREAM_REPLAY, sf=0.01, docs=(600, 4),
             tables=["documents"]),
]}
