#!/bin/bash
# Count code lines per file and in total: lines that are not blank, not
# `//`-only and not inside a /* */ block (a line that opens or closes a
# block counts as part of it).
#
# Usage: tools/code_lines.sh <path>...
#   A directory counts every *.scala file under it; a file counts as given.
set -euo pipefail
if [ $# -eq 0 ]; then
  echo "usage: $0 <path>..." >&2
  exit 2
fi
for p in "$@"; do
  if [ -d "$p" ]; then find "$p" -type f -name '*.scala'; else echo "$p"; fi
done | sort -u | xargs awk '
  FNR == 1 { inblk = 0; order[++files] = FILENAME; n[FILENAME] = 0 }
  {
    t = $0
    sub(/^[ \t]+/, "", t)
    if (inblk) { if (t ~ /\*\//) inblk = 0; next }
    if (t == "" || t ~ /^\/\//) next
    if (t ~ /^\/\*/) { if (t !~ /\*\//) inblk = 1; next }
    n[FILENAME]++
  }
  END {
    for (i = 1; i <= files; i++) { printf "%6d  %s\n", n[order[i]], order[i]; total += n[order[i]] }
    printf "%6d  total\n", total
  }'
