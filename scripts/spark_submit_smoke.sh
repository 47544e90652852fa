#!/bin/sh
# Executed proof of the north rule's deployment clause: the SAME artifact
# (ir_spark.zip from scripts/package.sh) runs end-to-end via
# `spark-submit --py-files` — build, then query, no repo on PYTHONPATH.
# In this sandbox the master is local[N]; on a cluster only --master and
# executor conf change (the zip is the unit of code distribution either way).
#
#   sh scripts/spark_submit_smoke.sh [n_docs] [master]
#
# Prints one JSON line per stage and SMOKE_OK at the end; the transcript of
# an executed run is recorded in BENCH/SPARK_SUBMIT.md.
set -e
cd "$(dirname "$0")/.."
REPO="$(pwd)"
N_DOCS="${1:-3000}"
MASTER="${2:-local[8]}"
WORK="$(mktemp -d /tmp/ir_submit_smoke.XXXXXX)"
trap 'rm -rf "$WORK"' EXIT

sh scripts/package.sh

# fixture corpus written by a throwaway session (NOT via --py-files: this is
# test-data prep, the deployment claim is about the two jobs below)
python - "$N_DOCS" "$WORK" <<'EOF'
import sys
sys.path.insert(0, ".")
from information_retrieval_images_spark.fixtures import generate_pages_df
from information_retrieval_images_spark.session import get_spark
n, work = int(sys.argv[1]), sys.argv[2]
spark = get_spark(master="local[8]", app_name="smoke-corpus")
generate_pages_df(spark, n, partitions=8).write.mode("overwrite").parquet(f"{work}/pages")
spark.stop()
EOF

# the deployment claim: driver scripts see ONLY the zip (cwd moved away so
# the repo dir cannot leak onto sys.path)
SUBMIT_DIR="$WORK/run"
mkdir -p "$SUBMIT_DIR"
cp ir_spark.zip jobs/build_index_job.py jobs/query_job.py "$SUBMIT_DIR/"
cd "$SUBMIT_DIR"

# write stdout to a file and cat it (NOT `cmd | tee` — POSIX sh has no
# pipefail, so a pipe would discard spark-submit's exit status and a build
# that died after writing a partial warehouse could still smoke-pass on
# whatever the query returns; ADVICE r5 #1). stderr goes to a log, not
# /dev/null, so a failed build is diagnosable.
spark-submit --master "$MASTER" --py-files ir_spark.zip \
    build_index_job.py --pages "$WORK/pages" --warehouse "$WORK/wh" \
    --buckets 2 > "$WORK/build.out" 2> "$WORK/build.err"
cat "$WORK/build.out"

# query two terms that EXIST in the fixture vocabulary (term%06d — see
# fixtures._VOCAB) and FAIL the smoke if the top-k comes back empty: a
# vocabulary-miss query would print an empty table and prove nothing
# about the built index
spark-submit --master "$MASTER" --py-files ir_spark.zip \
    query_job.py --warehouse "$WORK/wh" --query "term000001 term000002" --k 10 \
    > "$WORK/query.out" 2> "$WORK/query.err"
cat "$WORK/query.out"

NROWS="$(grep -c '^|0 ' "$WORK/query.out" || true)"
if [ "$NROWS" -lt 1 ]; then
    echo "SMOKE_FAIL: query returned 0 result rows"
    exit 1
fi

{
    echo "# spark-submit --py-files smoke (executed transcript)"
    echo
    echo "Run: $(date -u '+%Y-%m-%d %H:%M:%S') UTC — n_docs=$N_DOCS master=$MASTER"
    echo "Reproduce: sh scripts/spark_submit_smoke.sh"
    echo
    echo '```'
    cat "$WORK/build.out"
    cat "$WORK/query.out"
    echo "result rows: $NROWS"
    echo '```'
} > "$REPO/BENCH/SPARK_SUBMIT.md"

echo SMOKE_OK
