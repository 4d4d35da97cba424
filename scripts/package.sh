#!/usr/bin/env bash
# Build the --py-files artifact for spark-submit (north_rule ship vehicle).
#
#   scripts/package.sh [zip]            # default: dist/crumble_spark.zip
#   spark-submit --master <master> --py-files dist/crumble_spark.zip \
#       --conf spark.task.cpus=1 \
#       scripts/run_encode.py --input <parquet> --output <dir>
set -euo pipefail
out="${1:+$(realpath -m "$1")}"
cd "$(dirname "$0")/.."
out="${out:-$PWD/dist/crumble_spark.zip}"
mkdir -p "$(dirname "$out")"
rm -f "$out"
OUT="$out" python - <<'EOF'
import os, zipfile
out = os.environ["OUT"]
with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
    for root, _, names in os.walk("crumble_spark"):
        if "__pycache__" in root:
            continue
        for n in sorted(names):
            if n.endswith(".py"):
                z.write(os.path.join(root, n))
print(f"wrote {out}")
EOF
