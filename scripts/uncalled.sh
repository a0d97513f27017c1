#!/usr/bin/env bash
# Lists every `def` under src/main (`override` defs excluded) whose name
# appears nowhere in src, membench/src or scripts except on its own
# definition line: code nothing calls. Prints `file:line: name`, one per
# def, and nothing when every def has a caller. Comments count as
# appearances, and so does another def of the same name.
#
#   scripts/uncalled.sh
set -euo pipefail
cd "$(git -C "$(dirname "$0")" rev-parse --show-toplevel)"
files() {
  find src membench/src scripts -type f \
    \( -name '*.scala' -o -name '*.py' -o -name '*.sh' \) -print0 | sort -z
}
# Every identifier occurrence across the tree, counted per name.
counts=$(mktemp)
trap 'rm -f "$counts"' EXIT
files | xargs -0 cat | grep -oE '[A-Za-z_][A-Za-z0-9_]*' |
  sort | uniq -c | awk '{ print $2, $1 }' > "$counts"
# Each non-override def with its own line's occurrence count of the name.
find src/main -name '*.scala' -type f -print0 | sort -z |
  xargs -0 grep -nE '^\s*([a-z]+(\[[a-z]+\])?\s+)*def\s+[A-Za-z_][A-Za-z0-9_]*' |
  grep -vE '^[^:]+:[0-9]+:\s*([a-z]+(\[[a-z]+\])?\s+)*override\s' |
  awk -v counts="$counts" '
    BEGIN { while ((getline line < counts) > 0) { split(line, p, " "); n[p[1]] = p[2] } }
    {
      match($0, /^[^:]+:[0-9]+/); loc = substr($0, 1, RLENGTH)
      src = substr($0, RLENGTH + 2)
      match(src, /def[ \t]+[A-Za-z_][A-Za-z0-9_]*/)
      name = substr(src, RSTART, RLENGTH); sub(/^def[ \t]+/, "", name)
      own = 0; rest = src
      while (match(rest, /[A-Za-z_][A-Za-z0-9_]*/)) {
        if (substr(rest, RSTART, RLENGTH) == name) own++
        rest = substr(rest, RSTART + RLENGTH)
      }
      if (n[name] - own == 0) print loc ": " name
    }'
