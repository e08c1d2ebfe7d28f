#!/bin/sh
# Non-blank, non-comment line count of the main Scala sources — the
# "least code" figure CHANGES.md reports per change. Run from anywhere:
#   scripts/code_lines.sh
cd "$(dirname "$0")/.." || exit 1
find src/main/scala -name '*.scala' -print0 | xargs -0 cat \
  | grep -vE '^\s*$' | grep -cvE '^\s*(//|/\*|\*)'
