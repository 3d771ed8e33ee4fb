#!/usr/bin/env bash
# Prints the two design numbers ROADMAP.md tracks per change:
#   src_main_lines  lines of Scala under src/main
#   knobs           distinct env/conf knobs the engine reads
# Both are the exact commands CHANGES.md quotes, so every change reports them
# the same way.
#
# Usage: bash tools/design_counts.sh
set -euo pipefail
cd "$(dirname "$0")/.."
echo "src_main_lines=$(find src/main -name '*.scala' | xargs cat | wc -l)"
echo "knobs=$(grep -rhoE 'SPARK_GRAFT_[A-Z0-9_]+|GRAFT_CHAOS_MOD|"graft\.[a-z]+\.[a-z][A-Za-z]*"' src/main | sort -u | wc -l)"
