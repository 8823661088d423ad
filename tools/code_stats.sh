#!/bin/sh
# Prints size figures of the main sources:
#   code_lines    Scala lines under src/main, without blank lines and
#                 without lines that start a comment (//, /*, *)
#   conf_literals occurrences of a "spark.graft. conf-key literal
#   conf_key      one line per distinct spark.graft.* key literal, sorted
#                 (keys built by interpolation show up to the first `$`)
# Usage: tools/code_stats.sh [repo root, default: the checkout holding this script]
set -eu
root=${1:-"$(dirname "$0")/.."}
cd "$root"
lines=$(find src/main -name '*.scala' | xargs cat \
  | grep -v '^\s*$' | grep -v '^\s*\(//\|/\*\|\*\)' | wc -l)
confs=$(find src/main -name '*.scala' | xargs grep -o '"spark\.graft\.' | wc -l)
echo "code_lines $lines"
echo "conf_literals $confs"
find src/main -name '*.scala' | xargs grep -oh '"spark\.graft\.[A-Za-z0-9_.]*' \
  | cut -c2- | LC_ALL=C sort -u | sed 's/^/conf_key /'
