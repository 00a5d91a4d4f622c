"""Graph feature propagation — GNN-preprocessing over an embedding column.

Added engine surface (no reference analogue): the standard *simplified*
graph-convolution smoothing (SGC, Wu et al. 2019; LightGCN's propagation,
He et al. 2020) — k hops of (A + I) aggregation over the link graph —
turns per-item embeddings into graph-aware embeddings WITHOUT training.
Run before ANN/near-dup stages so similar-by-structure items move
together; at 100 TB this is the cheap alternative to a GNN forward pass.

Exactness discipline (what makes this oracle-gateable — same policy as the
Louvain integer gains): input features are quantized once to ``scale``
fixed-point INTEGERS, and each hop propagates exact integer
``(numerator, weight)`` pairs — num' = Σ_{u∈N(v)∪{v}} num_u,
w' = Σ w_u (w⁰ = 1, so w^k counts the (≤k)-hop walks into v). The
smoothed value is the single terminal division num^k / (w^k·scale) — the
walk-count-weighted average of quantized neighborhood features, bit-equal
across engines because every intermediate is an integer (float summation
order cannot flip a rounding). This is (A+I)^k x normalized by (A+I)^k 1
— the row-normalized SGC variant with normalization applied once.

Scale shape per hop: one explode to (id, pos, num, w) — E·dim message
rows, the honest cost of distributed feature aggregation — and one
map-side-combined (vertex, pos) sum; no windows, no driver loops.
Envelope: num ≤ scale·max|x|·(max_deg+1)^k — guard k·deg against int64
like the other integer-exact operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import truncate_lineage

FEATURE_SCALE = 1000  # 3-dp fixed-point quantization of input features


def feature_propagation(
    graph: Graph,
    features: DataFrame,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = FEATURE_SCALE,
    raw: bool = False,
) -> DataFrame:
    """k hops of walk-count-weighted neighborhood smoothing of ``features``
    (``(id_col, vec_col: array<float/double>)``) over the SIMPLE undirected
    graph. Returns the smoothed table in LONG form ``(id, pos, val)`` —
    scalar rows, exactly comparable across engines; reassemble with
    ``collect_list`` if an array column is needed downstream.

    Contributors are PRESENT features only: featureless vertices with
    featured neighbors acquire features (cold-start fill-in), vertices
    with no featured contributors stay absent, and featured vertices
    outside the graph are fixed points (their quantized value).

    ``raw=True`` returns the exact integer state ``(id, pos, num, w)``
    instead of the divided value — val = num/(w·scale) — which is the
    bit-exact cross-engine form (a rounded quotient can land on a decimal
    half like 1630/800000 = 0.0020375 exactly, where Java's
    shortest-decimal HALF_UP and a binary-value rounder legitimately
    disagree by 1e-6; the integers cannot)."""
    sym = truncate_lineage(graph.simple_sym())
    x = features.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.transform(F.col(vec_col), lambda c: c.cast("double"))).alias(
            "pos", "val"
        ),
    ).select(
        "id",
        "pos",
        F.round(F.col("val") * scale).cast("long").alias("num"),
        F.lit(1).cast("long").alias("w"),
    )
    for _ in range(rounds):
        msgs = sym.join(
            x.select(F.col("id").alias("u"), "pos", "num", "w").hint("shuffle_hash"),
            "u",
        ).select(F.col("v").alias("id"), "pos", "num", "w")
        x = truncate_lineage(
            msgs.unionByName(x)  # self-inclusive
            .groupBy("id", "pos")
            .agg(F.sum("num").alias("num"), F.sum("w").alias("w")),
            eager=False,  # fixed-round loop with no per-round action: the
            # whole propagation runs as ONE job at the terminal action
        )
    if raw:
        return x.select("id", "pos", "num", "w")
    return x.select(
        "id", "pos",
        F.round(F.col("num") / (F.col("w") * float(scale)), 6).alias("val"),
    )
