#!/usr/bin/env bash
# Code lines of the Scala sources under src/main: comment and blank lines
# excluded. With a revision, counts the tree at that revision; with none,
# counts the working tree.
#
#   scripts/loc.sh          # working tree
#   scripts/loc.sh HEAD~1   # a commit
set -euo pipefail
cd "$(git -C "$(dirname "$0")" rev-parse --show-toplevel)"
if [ $# -ge 1 ]; then
  rev="$1"
  git ls-tree -r --name-only "$rev" src/main | grep '\.scala$' |
    while read -r f; do git show "$rev:$f"; done
else
  find src/main -name '*.scala' -type f -print0 | sort -z | xargs -0 cat
fi | grep -vE '^\s*(\*|/\*\*|//|\*/)' | grep -vcE '^\s*$'
