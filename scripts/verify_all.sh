#!/usr/bin/env bash
# One-shot round validation: tests + oracle gate + bench + packaging smoke.
# Usage: scripts/verify_all.sh [sf_dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"

echo "== pytest (split to bound per-run wall time) =="
python -m pytest tests/test_csr_kernel.py tests/test_csr_frontier.py \
  tests/test_pagerank.py tests/test_sssp_cc.py tests/test_lpa_triangles.py \
  tests/test_resume.py tests/test_property_random_graphs.py \
  tests/test_pregel_plan.py tests/test_temporal.py tests/test_dag.py -q
python -m pytest tests/ -q \
  --ignore=tests/test_csr_kernel.py --ignore=tests/test_csr_frontier.py \
  --ignore=tests/test_pagerank.py --ignore=tests/test_sssp_cc.py \
  --ignore=tests/test_lpa_triangles.py --ignore=tests/test_resume.py \
  --ignore=tests/test_property_random_graphs.py \
  --ignore=tests/test_pregel_plan.py --ignore=tests/test_temporal.py \
  --ignore=tests/test_dag.py

echo "== oracle gate ($SF) =="
python scripts/check_oracles.py "$SF"

echo "== bench =="
python bench.py

echo "== packaging smoke =="
scripts/package.sh /tmp/sparkgraph_verify.zip >/dev/null
python -m sparkgraph.cli pagerank --input tests/assets/graph_main.txt \
  --iterations 30 --top 3 --master 'local[4]'

echo "== code-payload CLI smoke =="
python - <<'PYEOF'
from sparkgraph.session import get_spark
from sparkgraph.io.synth import synthesize_sources
spark = get_spark("smokegen", master="local[4]", shuffle_partitions=4)
synthesize_sources(spark, n_repos=2, files_per_repo=12).write.mode(
    "overwrite").parquet("/tmp/sparkgraph_verify_sources")
spark.stop()
PYEOF
python -m sparkgraph.cli coupling --input /tmp/sparkgraph_verify_sources \
  --top 3 --master 'local[4]'
python -m sparkgraph.cli rules --input /tmp/sparkgraph_verify_sources \
  --top 3 --max-commit-files 10 --master 'local[4]'
echo "ALL OK"
