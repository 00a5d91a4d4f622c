"""Deterministic synthetic source-repository tables (BASELINE.json input_hint).

Generates the engine's primary input shape —
``sources(repo, path, commit, lang, content)`` — fully distributed via
``spark.range`` + column expressions (no driver-side loops, no wall-clock
salt), so the same generator scales from fixture size to bench size.

Grammar (FIXTURES.md §3): file *f* of repo *r* embeds ``imports_per_file``
import statements in its language's syntax, each referencing another module of
the SAME repo (target index ``(f + k·step) % F`` with a per-repo stride).
Commits group deterministic file subsets; files sharing a commit become
pairwise co-change edges. The expected edge list is therefore computable in
closed form — tests regenerate it independently in pure Python.

Also: seeded power-law ("hub") graph generator for skew/scale benchmarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["py", "c", "java"]
_EXT = {"py": "py", "c": "h", "java": "java"}

_IMPORT_FMT = {
    "py": "import mod_%d",
    "c": '#include "mod_%d.h"',
    "java": "import src.mod_%d;",
}


def import_targets(file_idx: int, repo_idx: int, files_per_repo: int, k: int) -> list[int]:
    """Closed-form import target indices for file f of repo r (k imports)."""
    step = repo_idx % 5 + 1
    return sorted({(file_idx + j * step) % files_per_repo for j in range(1, k + 1)} - {file_idx})


def synthesize_sources(
    spark: SparkSession,
    n_repos: int = 4,
    files_per_repo: int = 30,
    imports_per_file: int = 3,
    commits_per_repo: int = 6,
    commit_stride: int = 7,
    commit_span: int = 3,
) -> DataFrame:
    """Returns ``sources(repo, path, commit, lang, content)`` — one row per
    (file, commit) membership, ≥1 commit per file (commit 0 of each repo
    includes every file, the "initial import"). Content is identical across a
    file's rows, so sha256(content) is a per-file invariant.
    """
    F_ = files_per_repo
    files = (
        spark.range(n_repos * F_)
        .select(
            (F.col("id") / F_).cast("long").alias("r"),
            (F.col("id") % F_).alias("f"),
        )
        .select(
            "r",
            "f",
            F.format_string("org/project-%03d", "r").alias("repo"),
            F.element_at(F.array(*[F.lit(x) for x in LANGS]), (F.col("f") % 3 + 1).cast("int")).alias("lang"),
            (F.col("r") % 5 + 1).alias("step"),
        )
        .select(
            "r",
            "f",
            "repo",
            "lang",
            "step",
            F.format_string(
                "src/mod_%d.%s",
                "f",
                F.element_at(
                    F.create_map(
                        *[F.lit(x) for kv in _EXT.items() for x in kv]
                    ),
                    F.col("lang"),
                ),
            ).alias("path"),
        )
    )

    # Import statements: targets (f + j*step) % F for j in 1..k, self excluded.
    targets = F.array_sort(
        F.array_distinct(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(imports_per_file)),
                    lambda j: (F.col("f") + j * F.col("step")) % F_,
                ),
                lambda t: t != F.col("f"),
            )
        )
    )
    import_lines = F.array_join(
        F.transform(
            targets,
            lambda t: F.when(
                F.col("lang") == "py", F.format_string(_IMPORT_FMT["py"], t)
            )
            .when(F.col("lang") == "c", F.format_string(_IMPORT_FMT["c"], t))
            .otherwise(F.format_string(_IMPORT_FMT["java"], t)),
        ),
        "\n",
    )
    filler = F.format_string(
        "\n// module %d of %s\nvalue = %d\n", "f", "repo", (F.col("f") * 2654435761) % 1000003
    )
    files = files.select(
        "r", "f", "repo", "path", "lang",
        F.concat(import_lines, filler).alias("content"),
    )

    # Commit membership: commit c of repo r touches files with
    # (f + c) % commit_stride < commit_span, plus commit 0 touches all.
    commits = spark.range(commits_per_repo).select(F.col("id").alias("c"))
    mem = files.crossJoin(commits).filter(
        (F.col("c") == 0) | ((F.col("f") + F.col("c")) % commit_stride < commit_span)
    )
    return mem.select(
        "repo",
        "path",
        F.sha2(F.format_string("%s@commit-%d", "repo", "c"), 256).substr(1, 12).alias("commit"),
        "lang",
        "content",
    )


def powerlaw_edges(
    spark: SparkSession,
    n_edges: int,
    n_vertices: int,
    exponent: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Seeded skewed edge table: endpoints drawn via u^(1/(1-exponent))-style
    inverse-CDF over hashed uniforms — Zipf-like hubs (vertex 0 hottest),
    the shape that exercises salting/AQE skew handling. Deterministic in
    (n_edges, n_vertices, exponent, seed).
    """
    inv = 1.0 / (1.0 - exponent)

    def endpoint(col, salt):
        u = (F.abs(F.xxhash64(col, F.lit(seed), F.lit(salt))) % 1_000_000_007) / 1_000_000_007.0
        return (F.pow(u, F.lit(inv)) * n_vertices).cast("long") % n_vertices

    return (
        spark.range(n_edges)
        .select(
            endpoint(F.col("id"), 1).alias("src"),
            endpoint(F.col("id"), 2).alias("dst"),
            F.lit(1.0).alias("weight"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def sbm_edges(
    spark: SparkSession,
    n_blocks: int = 4,
    block_size: int = 100,
    p_in: float = 0.3,
    p_out: float = 0.01,
    seed: int = 42,
) -> DataFrame:
    """Deterministic stochastic-block-model edge table: vertex v belongs to
    block v // block_size; each (i < j) pair keeps an edge with probability
    p_in (same block) or p_out (cross block), decided by a pure xxhash64
    threshold — reproducible in (params, seed), no RNG state.

    The planted-partition benchmark for community detection (Louvain/LPA
    recovery tests) and a second skew shape beside ``powerlaw_edges``.
    Materializes the n² pair grid before filtering — a TEST/BENCH generator
    (fine to ~10⁵ vertices), not a 100 TB synthesizer."""
    n = n_blocks * block_size
    pairs = (
        spark.range(n)
        .select(F.col("id").alias("src"))
        .join(spark.range(n).select(F.col("id").alias("dst")))
        .filter(F.col("src") < F.col("dst"))
    )
    same = (F.col("src") / block_size).cast("long") == (
        F.col("dst") / block_size
    ).cast("long")
    u = (
        F.abs(F.xxhash64("src", "dst", F.lit(seed))) % 1_000_000_007
    ) / 1_000_000_007.0
    return pairs.filter(
        F.when(same, u < p_in).otherwise(u < p_out)
    ).select("src", "dst", F.lit(1.0).alias("weight"))
