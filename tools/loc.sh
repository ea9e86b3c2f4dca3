#!/bin/bash
# Non-blank, non-comment Scala line count: every line of the `.scala` files
# under the given files or directories (default: src/main), less blank lines
# and lines that start with `//`, `/*` or `*`. Usage: tools/loc.sh [path...]
set -eu
cd "$(dirname "$0")/.."
[ $# -eq 0 ] && set -- src/main
find "$@" -name '*.scala' | sort | xargs cat | grep -v '^\s*$' | grep -cv '^\s*\(//\|/\*\|\*\)'
