"""Metric definitions and how each is computed from a repetition's spans.

End-to-end metrics come from untraced repetitions and are defined on every
workload; per-layer metrics, named ``<module>.<metric>``, from traced ones.
Every metric is reported on every workload: a layer that a workload does
not run reads 0 there.
"""

from __future__ import annotations

import statistics

from spans import self_times

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "first_job_s": ("s", "lower"),
    "job_s": ("s", "lower"),
    "pagerank_supersteps_per_s": ("1/s", "higher"),
    "pagerank_edges_per_s": ("1/s", "higher"),
    "load_per_s": ("1/s", "higher"),
    "fixpoint_step_s": ("s", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
    "ops_ok_frac": ("ratio", "higher"),
}

ALGORITHMS = ("pagerank", "sssp", "cc")
PER_LAYER = {
    "ingest.s": ("s", "lower"),
    "ingest.sha_verify_s": ("s", "lower"),
    "ingest.sha_mismatches": ("count", "lower"),
    "derive.import_s": ("s", "lower"),
    "derive.cochange_s": ("s", "lower"),
    "derive.import_resolved_frac": ("ratio", "higher"),
    "derive.commits_capped_frac": ("ratio", "lower"),
    "graph.build_s": ("s", "lower"),
    "graph.degrees_s": ("s", "lower"),
    "graph.sym_edges": ("count", "lower"),
    "graph.max_degree": ("count", "lower"),
    "graph.partition_skew": ("ratio", "lower"),
    "pregel.supersteps": ("count", "lower"),
    "pregel.superstep_s_p50": ("s", "lower"),
    "pregel.jobs_per_superstep": ("count", "lower"),
    "pregel.checkpoint_save_s": ("s", "lower"),
    "pregel.checkpoint_bytes": ("B", "lower"),
    "pregel.restore_s": ("s", "lower"),
    "pregel.resume_s": ("s", "lower"),
    **{
        f"algorithms.{a}.{m}": spec
        for a in ALGORITHMS
        for m, spec in (
            ("s", ("s", "lower")),
            ("shuffle_bytes", ("B", "lower")),
            ("task_busy_frac", ("ratio", "higher")),
            ("cpu_frac", ("ratio", "higher")),
            ("gc_s", ("s", "lower")),
        )
    },
    "algorithms.sssp.active_frac": ("ratio", "lower"),
    "algorithms.cc.active_frac": ("ratio", "lower"),
    "kernels.csr.pack_s": ("s", "lower"),
    "kernels.csr.pagerank_s": ("s", "lower"),
    "trace.job_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

# The fixed-iteration relational PageRank call each workload makes: the
# BASELINE supersteps/s and edges/s metrics.
PAGERANK_SPAN = "algorithms.pagerank"
# The calls that run to a fixpoint. A call stopped early on purpose (phase
# "interrupted") is left out, so for a checkpointed call fixpoint_step_s
# covers the restart call, restore included, until the result has converged.
# It is a time per superstep because the number of supersteps to the
# fixpoint changes with the seed.
FIXPOINT_SPANS = ("algorithms.sssp", "algorithms.cc")
# The spans from reading the input until the Graph's edges exist.
LOAD_PREFIXES = ("ingest.", "derive.", "graph.build")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def ops(spans: list[dict]) -> int:
    """Engine calls made: the top-level spans."""
    return sum(s["parent"] is None for s in spans)


def rep_summary(rep, spans: list[dict], cores: int) -> dict:
    """What one repetition contributes: job time, the PageRank rates, load
    rate, time per fixpoint superstep and, for a traced repetition, the
    per-layer metrics."""
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    pr = [s for s in spans if s["name"] == PAGERANK_SPAN]
    pr_steps = sum(s["supersteps"] for s in pr)
    pr_s = sum(dur[s["id"]] for s in pr)
    top = [s for s in spans if s["parent"] is None]
    fix = [s for s in top if s["name"] in FIXPOINT_SPANS and s.get("phase") != "interrupted"]
    out = {
        "traced": rep.traced,
        "job_s": rep.job_s,
        "pagerank_supersteps_per_s": pr_steps / pr_s,
        "pagerank_edges_per_s": pr_steps * rep.stats["sym_edges"] / pr_s,
        "load_per_s": rep.stats["items"] / sum(
            dur[s["id"]] for s in top if s["name"].startswith(LOAD_PREFIXES)
        ),
        "fixpoint_step_s": (
            sum(dur[s["id"]] for s in fix) / max(sum(s["supersteps"] for s in fix), 1)
        ),
    }
    if rep.traced:
        out["layer"] = _layers(rep, spans, dur, cores)
    return out


def _layers(rep, spans: list[dict], dur: dict, cores: int) -> dict:
    own = self_times(spans)

    def self_s(prefix: str) -> float:
        return sum(
            own[s["id"]] for s in spans
            if s["name"] == prefix or s["name"].startswith(prefix + ".")
        )

    def counter(name: str, key: str) -> float:
        return sum(s["counters"][key] for s in spans if s["name"] == name)

    st = rep.stats
    loops = [s for s in spans if "supersteps" in s and s["name"].startswith("algorithms.")]
    steps = sum(s["supersteps"] for s in loops)
    # per-superstep wall times of the eager loops; lazy reference-mode
    # PageRank records plan-building time per superstep, so it is left out
    eager = [
        m.seconds
        for s in loops
        if s["id"] in rep.results and s["name"] != "algorithms.pagerank"
        for m in rep.results[s["id"]].metrics
    ]
    layer = {
        "ingest.s": self_s("ingest"),
        "ingest.sha_verify_s": self_s("ingest.sha_verify"),
        "ingest.sha_mismatches": rep.out.get("sha_mismatches", 0),
        "derive.import_s": self_s("derive.import"),
        "derive.cochange_s": self_s("derive.cochange"),
        "derive.import_resolved_frac": st.get("import_resolved_frac", 0.0),
        "derive.commits_capped_frac": st.get("commits_capped_frac", 0.0),
        "graph.build_s": self_s("graph.build"),
        "graph.degrees_s": self_s("graph.degrees"),
        "graph.sym_edges": st["sym_edges"],
        "graph.max_degree": st["max_degree"],
        "graph.partition_skew": st["partition_skew"],
        "pregel.supersteps": steps,
        "pregel.superstep_s_p50": median(eager),
        "pregel.jobs_per_superstep": (
            sum(s["counters"]["jobs"] for s in loops) / steps if steps else 0.0
        ),
        "pregel.checkpoint_save_s": self_s("pregel.checkpoint_save"),
        "pregel.checkpoint_bytes": st.get("checkpoint_bytes", 0),
        "pregel.restore_s": self_s("pregel.restore"),
        "pregel.resume_s": sum(dur[s["id"]] for s in spans if s.get("phase") == "resume"),
    }
    for a in ALGORITHMS:
        name = f"algorithms.{a}"
        wall = sum(dur[s["id"]] for s in spans if s["name"] == name)
        layer[f"{name}.s"] = self_s(name)
        layer[f"{name}.shuffle_bytes"] = counter(name, "shuffle_bytes")
        layer[f"{name}.task_busy_frac"] = counter(name, "task_ms") / 1000.0 / wall if wall else 0.0
        layer[f"{name}.cpu_frac"] = (
            counter(name, "cpu_ms") / 1000.0 / (cores * wall) if wall else 0.0
        )
        layer[f"{name}.gc_s"] = counter(name, "gc_ms") / 1000.0
    for a in ("sssp", "cc"):
        results = [
            rep.results[s["id"]] for s in spans
            if s["name"] == f"algorithms.{a}" and s["id"] in rep.results
        ]
        changed = sum(m.changed or 0 for r in results for m in r.metrics)
        visits = sum(r.supersteps for r in results) * st["vertices"]
        layer[f"algorithms.{a}.active_frac"] = changed / visits if visits else 0.0
    layer["kernels.csr.pack_s"] = self_s("kernels.csr.pack")
    layer["kernels.csr.pagerank_s"] = self_s("kernels.csr.pagerank")
    return layer


def end_to_end(summaries: list[dict], setups: list[float], rss_mb: float,
               attempted: int, failed: int) -> dict:
    """Medians over the warm untraced repetitions; a run whose repetitions
    failed before any warm one completed reports 0 for the warm metrics."""
    warm = [s for s in summaries[1:] if not s["traced"]]
    values = {
        "setup_s": median(setups),
        "first_job_s": summaries[0]["job_s"] if summaries else 0.0,
        **{
            k: median([s[k] for s in warm])
            for k in ("job_s", "pagerank_supersteps_per_s", "pagerank_edges_per_s",
                      "load_per_s", "fixpoint_step_s")
        },
        "peak_rss_mb": rss_mb,
        "ops_ok_frac": 1.0 - failed / max(attempted, 1),
    }
    return {k: {"value": values[k], "unit": unit} for k, (unit, _) in END_TO_END.items()}


def per_layer(summaries: list[dict]) -> dict:
    traced = [s for s in summaries if s["traced"]]
    untraced = [s["job_s"] for s in summaries[1:] if not s["traced"]]
    values = {
        key: median([s["layer"][key] for s in traced])
        for key in PER_LAYER if not key.startswith("trace.")
    }
    values["trace.job_s"] = median([s["job_s"] for s in traced])
    values["trace.overhead_s"] = values["trace.job_s"] - median(untraced)
    return {k: {"value": values[k], "unit": unit} for k, (unit, _) in PER_LAYER.items()}
