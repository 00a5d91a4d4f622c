"""Superstep driver: lineage truncation, metrics, checkpoint/resume and the
two superstep loops.

Replaces the reference's hand-rolled BSP runtime (SURVEY.md §2A A9/A10, §2B
B7/B8): the master's ACK-counted barrier (master/master.go:404-450) becomes a
driver-side Python loop where each superstep is one Spark job and the
``groupBy(dst)`` shuffle IS the barrier; the reference's restart-from-
superstep-0 fault story (master/master.go:431-445) is upgraded to
resume-from-last-completed-superstep via Parquet state checkpoints with a
JSON manifest carrying per-partition lineage and convergence metrics
(BASELINE.json north_star).

The reference writes its vertex programs against one ``Vertex`` API
(api/api.go:9-22). Here ``SuperstepLoop.start`` is the one resume-or-init
step of every checkpointable loop, and two loops take the shape of GraphX
``aggregateMessages``: ``SuperstepLoop.relax``, the frontier fixpoint of
SSSP, CC, temporal reachability and DAG layering, and
``SuperstepLoop.propagate``, the fixed-round or converge-to-``tol`` loop
whose gathered aggregate is the new state (PageRank in every mode, Katz,
``ppr_batch``). Each algorithm supplies only its scatter, gather and apply
``Column``s.
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest.json"

_log = logging.getLogger("sparkgraph")

# Default iteration ceiling for fixpoint loops (SSSP, CC, SCC, BFS depth).
# Far above any real graph's diameter — it exists purely as a runaway guard,
# so a loop that actually HITS it did not converge; ``warn_unconverged``
# makes that visible instead of returning a silently-partial result.
MAX_FIXPOINT_ITERS = 10_000

# Loop parameters that only bound when a run halts: a resume may change them
# (e.g. continue a 10-superstep run to 30); every other recorded parameter
# must match the checkpoint's.
HALTING_PARAMS = frozenset({"iterations", "max_iter", "tol"})


def warn_unconverged(
    algorithm: str,
    supersteps: int,
    max_iter: int,
    knob: str = "max_iter",
    unit: str = "supersteps",
) -> None:
    """Convergence-guard log line: called by fixpoint loops that exit on an
    iteration ceiling rather than an empty frontier / zero-change round.
    ``knob``/``unit`` name the ceiling that actually fired, so the line
    points at the RIGHT lever (e.g. SCC's peel truncates on ``max_rounds``
    peel rounds, not ``max_iter`` supersteps)."""
    _log.warning(
        "%s stopped at the %s ceiling (%d of %d %s) WITHOUT reaching its "
        "fixpoint — the returned state may be partial; raise %s or inspect "
        "the frontier-decay metrics",
        algorithm, knob, supersteps, max_iter, unit, knob,
    )


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint: cuts the logical plan so iterative loops don't grow
    unbounded lineage (the classic Spark iterative-workload footgun).

    The input is planned and checkpointed with adaptive execution off (the
    caller's ``spark.sql.adaptive.enabled`` is restored afterwards). A static
    plan reports its real output partitioning, and the checkpointed
    ``LogicalRDD`` keeps it: state built from a join or aggregation on ``id``
    scans as ``hashpartitioning(id, n)``. Against the ``src``-partitioned
    ``edges_sym`` neither the scatter join nor the apply join then re-exchanges
    the state, so the ``groupBy(dst)`` gather is a superstep's only shuffle.
    A plan partitioned on ``id`` or on a bare alias of it (``id AS label``)
    keeps only the first alternative, the alias, so build such a column
    some other way (see ``connected_components``). An adaptive plan scans as ``UnknownPartitioning`` instead, and building
    its RDD runs its shuffle stages at call time even when ``eager=False``.

    ``eager=True`` materializes now — one Spark job per call. ``eager=False``
    cuts the plan now and defers execution to the next action on the result:
    the right shape when the loop runs an action on the new state anyway
    (a changed count), so checkpoint and count run as one job.
    """
    conf = df.sparkSession.conf
    caller_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=eager)
    finally:
        conf.set("spark.sql.adaptive.enabled", caller_aqe)


def partition_lineage(df: DataFrame, cols: list[str]) -> list[dict]:
    """Per-partition lineage fingerprint: row count + order-insensitive value
    hash per physical partition. Recorded in every checkpoint manifest so a
    resumed run can verify it restored exactly the state it wrote.
    """
    rows = (
        df.select(
            F.spark_partition_id().alias("pid"),
            F.xxhash64(*[F.col(c) for c in cols]).alias("h"),
        )
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            # XOR-fold: order-insensitive and overflow-free under ANSI mode
            F.bit_xor("h").alias("value_hash"),
        )
        .collect()
    )
    return [
        {"partition": r["pid"], "rows": r["rows"], "value_hash": str(r["value_hash"])}
        for r in sorted(rows, key=lambda r: r["pid"])
    ]


@dataclass
class SuperstepMetrics:
    superstep: int
    seconds: float
    changed: int | None = None
    delta: float | None = None

    def to_dict(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if v is not None}


@dataclass
class PregelResult:
    state: DataFrame
    supersteps: int
    converged: bool
    metrics: list[SuperstepMetrics] = field(default_factory=list)


class Checkpointer:
    """Durable superstep checkpoints: ``<dir>/superstep=<k>/`` Parquet state +
    a manifest (superstep, metrics, per-partition lineage). ``every=k`` writes
    one checkpoint per k supersteps; ``latest()`` lets a restarted driver
    resume from the last completed checkpoint instead of superstep 0.
    """

    def __init__(self, directory: str, every: int = 5):
        self.directory = directory
        self.every = max(1, int(every))
        os.makedirs(directory, exist_ok=True)

    def _path(self, superstep: int) -> str:
        return os.path.join(self.directory, f"superstep={superstep:06d}")

    def should_save(self, superstep: int) -> bool:
        return superstep % self.every == 0

    def save(
        self,
        state: DataFrame,
        superstep: int,
        metrics: list[SuperstepMetrics],
        algorithm: str,
        params: dict | None = None,
    ) -> None:
        path = self._path(superstep)
        state.write.mode("overwrite").parquet(os.path.join(path, "state"))
        manifest = {
            "algorithm": algorithm,
            "superstep": superstep,
            "params": params or {},
            "columns": state.columns,
            "partitions": partition_lineage(state, state.columns),
            "metrics": [m.to_dict() for m in metrics],
        }
        tmp = os.path.join(path, MANIFEST_NAME + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, os.path.join(path, MANIFEST_NAME))

    def latest(self) -> tuple[int, str, dict] | None:
        """(superstep, state_path, manifest) of the newest complete checkpoint
        (one whose manifest finished writing), or None."""
        if not os.path.isdir(self.directory):
            return None
        best = None
        for name in sorted(os.listdir(self.directory)):
            mpath = os.path.join(self.directory, name, MANIFEST_NAME)
            if name.startswith("superstep=") and os.path.exists(mpath):
                with open(mpath) as f:
                    manifest = json.load(f)
                best = (
                    manifest["superstep"],
                    os.path.join(self.directory, name, "state"),
                    manifest,
                )
        return best

    def restore(self, spark) -> tuple[int, DataFrame, list[SuperstepMetrics]] | None:
        found = self.latest()
        if found is None:
            return None
        superstep, state_path, manifest = found
        state = spark.read.parquet(state_path)
        metrics = [SuperstepMetrics(**m) for m in manifest.get("metrics", [])]
        return superstep, state, metrics


class SuperstepLoop:
    """Bookkeeping shared by all iterative algorithms: wall-clock per
    superstep, optional convergence deltas, checkpoint writes and resume
    (A9/A10). ``start`` resumes or initializes a loop's state; ``relax`` runs
    the frontier fixpoint for min/max-relaxation loops; ``propagate`` runs
    the loops whose ``groupBy`` aggregate is the whole new state. Loops of
    another shape keep their own superstep and call
    ``step_started``/``step_done``: LPA's two-level vote, the multi-consumer
    loops, HITS (two half-steps a superstep, each with a left-join apply and
    a normalization collect) and feature propagation (a lazy,
    self-inclusive union of the state and its messages).
    """

    def __init__(
        self,
        algorithm: str,
        params: dict | None = None,
        checkpointer: Checkpointer | None = None,
        resume: bool = False,
    ):
        self.algorithm = algorithm
        self.params = params or {}
        self.checkpointer = checkpointer
        self.resume = resume
        self.metrics: list[SuperstepMetrics] = []
        self._t0 = time.monotonic()
        self._last_saved: int | None = None

    def start(self, init: DataFrame, num_partitions: int) -> tuple[int, DataFrame]:
        """(superstep, state) the loop starts from: the newest checkpoint when
        resuming and one exists, else ``(0, init)``. Either way the state is
        lineage-truncated. A restored state takes ``init``'s columns and is
        hash-partitioned on ``id`` into ``num_partitions`` inside its
        truncation, so the first superstep after a resume shuffles only its
        gather, like any other.

        Raises ``ValueError`` when that checkpoint was written by another
        algorithm or with other parameters (halting bounds aside, so a run
        may resume to a larger ``iterations``). The check reads only the
        manifest."""
        found = self.checkpointer.latest() if self.resume and self.checkpointer else None
        if found is None:
            return 0, truncate_lineage(init)
        manifest = found[2]
        if manifest["algorithm"] != self.algorithm:
            raise ValueError(
                f"cannot resume {self.algorithm} from a {manifest['algorithm']} "
                f"checkpoint in {self.checkpointer.directory}"
            )
        recorded = manifest.get("params", {})
        current = json.loads(json.dumps(self.params))  # compare as saved
        differ = sorted(
            k
            for k in recorded.keys() | current.keys()
            if k not in HALTING_PARAMS and recorded.get(k) != current.get(k)
        )
        if differ:
            raise ValueError(
                f"cannot resume {self.algorithm}: checkpoint params differ in "
                + ", ".join(
                    f"{k} ({recorded.get(k)!r} != {current.get(k)!r})" for k in differ
                )
            )
        superstep, state, self.metrics = self.checkpointer.restore(init.sparkSession)
        state = state.select(*init.columns).repartition(num_partitions, "id")
        return superstep, truncate_lineage(state)

    def relax(
        self, edges: DataFrame, state: DataFrame, step: int, max_iter: int,
        scatter: list, gather: Column, apply: list,
    ) -> tuple[DataFrame, int, bool]:
        """Frontier fixpoint from ``step`` up to ``max_iter`` supersteps:
        (state, supersteps, converged). ``state`` has ``id`` and a boolean
        ``changed``; ``edges`` is partitioned on ``src``.

        Each superstep, the vertices that changed last superstep select
        ``scatter`` (naming ``src``) and join ``edges`` on ``src``; ``gather``
        aggregates the joined rows by ``dst`` into one column per receiving
        ``id``; ``apply`` selects the new state, ``changed`` included, from
        the state left-joined with that aggregate (NULL where no message
        arrived). The loop halts when nothing changed. The caller warns on
        ``max_iter``: only it knows whether that ceiling is the lever.

        The truncation is lazy: the changed count is the superstep's one
        action and materializes the checkpoint, so a superstep is one Spark
        job, and the ``groupBy(dst)`` gather is its only shuffle."""
        dst_as_id = F.col("dst").alias("id")
        while step < max_iter:
            self.step_started()
            frontier = state.filter("changed").select(*scatter)
            msgs = edges.join(frontier.hint("shuffle_hash"), "src")
            gathered = msgs.groupBy(dst_as_id).agg(gather)
            state = truncate_lineage(
                state.join(gathered, "id", "left").select(*apply), eager=False
            )
            changed = state.filter("changed").count()
            step += 1
            self.step_done(state, step, changed=changed)
            if changed == 0:
                return state, step, True
        return state, step, False

    def propagate(
        self, edges: DataFrame, state: DataFrame, step: int, rounds: int,
        scatter: list, gather: list, apply: list | None,
        delta: tuple[list, Column, float] | None = None, key: list | None = None,
    ) -> tuple[DataFrame, int, bool]:
        """Supersteps from ``step`` up to ``rounds`` where the gathered
        aggregate IS the new state: (state, supersteps, converged).
        ``edges`` is partitioned on ``src``.

        Each superstep, the whole state selects ``scatter`` (naming ``src``)
        and joins ``edges`` on ``src``; ``gather`` aggregates the joined rows
        by ``key`` (default ``dst AS id``) and ``apply``, when given, selects
        the new state from that aggregate. A vertex with no incoming message
        drops out of the state, so the caller's messages must reach every
        vertex (on the symmetrized graph each vertex messages itself back).

        ``delta=(prev, measure, tol)`` halts the loop once ``measure`` —
        aggregated over the new state joined on ``id`` with the old one's
        ``prev`` columns — falls below ``tol``; ``converged`` says whether it
        did. Without it the loop runs its ``rounds`` and counts as converged.

        The truncation is eager, so a superstep is one Spark job, unless a
        delta follows: then it is lazy and the delta's action materializes
        the checkpoint, as in ``relax``. Under the default ``key`` the state
        keeps its hash partitioning on ``id``, so the gather is the
        superstep's only shuffle."""
        key = key or [F.col("dst").alias("id")]
        while step < rounds:
            self.step_started()
            # shuffle-hash: build on the (small) state side, stream the
            # persisted pre-partitioned edge side without re-sorting it
            msgs = edges.join(state.select(*scatter).hint("shuffle_hash"), "src")
            new_state = msgs.groupBy(*key).agg(*gather)
            if apply is not None:
                new_state = new_state.select(*apply)
            new_state = truncate_lineage(new_state, eager=delta is None)
            d = None
            if delta is not None:
                prev, measure, tol = delta
                # both states are hash-partitioned on id: no exchange
                d = (
                    new_state.join(state.select(*prev).hint("shuffle_hash"), "id")
                    .agg(measure)
                    .collect()[0][0]
                )
            state = new_state
            step += 1
            self.step_done(state, step, delta=d)
            if d is not None and d < tol:
                return state, step, True
        return state, step, delta is None

    def step_started(self) -> None:
        self._t0 = time.monotonic()

    def step_done(
        self,
        state: DataFrame,
        superstep: int,
        changed: int | None = None,
        delta: float | None = None,
    ) -> None:
        self.metrics.append(
            SuperstepMetrics(
                superstep=superstep,
                seconds=round(time.monotonic() - self._t0, 6),
                changed=changed,
                delta=delta,
            )
        )
        if self.checkpointer and self.checkpointer.should_save(superstep):
            self.checkpointer.save(
                state, superstep, self.metrics, self.algorithm, self.params
            )
            self._last_saved = superstep

    def finish(
        self, state: DataFrame, superstep: int, converged: bool, result: DataFrame | None = None
    ) -> PregelResult:
        """``state`` is the FULL loop state (all columns a resume needs);
        ``result`` is the user-facing projection (defaults to ``state``)."""
        if self.checkpointer and self._last_saved != superstep:
            self.checkpointer.save(
                state, superstep, self.metrics, self.algorithm, self.params
            )
        return PregelResult(
            state=result if result is not None else state,
            supersteps=superstep,
            converged=converged,
            metrics=self.metrics,
        )
