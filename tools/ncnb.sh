#!/usr/bin/env bash
# Non-blank, non-comment (NCNB) line count per Scala file, then the total.
# A line is skipped when it is blank, starts with `//`, or lies in a
# `/* ... */` block that starts its line (scaladoc included); every other
# line counts, trailing comments and all.
# Usage: tools/ncnb.sh [FILE_OR_DIR ...]   (default: src/main/scala)
set -euo pipefail
[ $# -eq 0 ] && set -- src/main/scala
find "$@" -name '*.scala' -type f | sort | while read -r f; do
  awk '
    inblock { if (index($0, "*/")) inblock = 0; next }
    { t = $0; sub(/^[ \t]+/, "", t) }
    t == "" || substr(t, 1, 2) == "//" { next }
    substr(t, 1, 2) == "/*" {
      if (!index(substr(t, 3), "*/")) inblock = 1
      next
    }
    { n++ }
    END { printf "%7d %s\n", n, FILENAME }
  ' "$f"
done | awk '{ print; total += $1 } END { printf "%7d total\n", total }'
