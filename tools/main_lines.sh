#!/bin/bash
# Non-blank, non-comment line count of the main sources, then the ten
# largest files by the same count. Run from anywhere in the repo:
#   tools/main_lines.sh [SRC_DIR]   (default: src/main)
set -euo pipefail
cd "$(dirname "$0")/.."
src="${1:-src/main}"
count() { grep -v '^\s*$' | grep -v '^\s*//' | grep -v '^\s*/\?\*' | wc -l; }
echo "total $(find "$src" -name '*.scala' -print0 | xargs -0 cat | count)"
find "$src" -name '*.scala' | while read -r f; do
  echo "$(count < "$f") $f"
done | sort -rn | head -10
