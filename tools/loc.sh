#!/usr/bin/env bash
# Main-code line counts (`wc -l` over src/main/**/*.scala), split into the
# graft.ops, graft.lake and graft.sql packages and the rest, for a git
# revision (default HEAD) and for the working tree (untracked files
# included), plus the delta. Design changes report their LOC delta with it.
#
# Usage: tools/loc.sh [rev]
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
rev="${1:-HEAD}"
git rev-parse --verify --quiet "$rev^{commit}" >/dev/null ||
  { echo "unknown revision: $rev" >&2; exit 2; }

# stdin: "<lines> <path>" per file; stdout: "ops lake sql rest total"
tally() {
  awk '{ n = $1; p = $2; t += n
         if (p ~ /^src\/main\/scala\/graft\/ops\//) o += n
         else if (p ~ /^src\/main\/scala\/graft\/lake\//) l += n
         else if (p ~ /^src\/main\/scala\/graft\/sql\//) s += n
         else r += n }
       END { printf "%d %d %d %d %d\n", o, l, s, r, t }'
}

at_rev=$(git ls-tree -r --name-only "$rev" -- src/main | grep '\.scala$' |
  while read -r f; do echo "$(git show "$rev:$f" | wc -l) $f"; done | tally)
in_tree=$(find src/main -name '*.scala' | sort |
  while read -r f; do echo "$(wc -l < "$f") $f"; done | tally)

printf '%-8s %7s %7s %7s %7s %7s\n' "" ops lake sql rest total
printf '%-8s %7d %7d %7d %7d %7d\n' "$(git rev-parse --short "$rev")" $at_rev
printf '%-8s %7d %7d %7d %7d %7d\n' tree $in_tree
paste -d' ' <(tr ' ' '\n' <<<"$at_rev") <(tr ' ' '\n' <<<"$in_tree") |
  awk '{ d[NR] = $2 - $1 }
       END { printf "%-8s %+7d %+7d %+7d %+7d %+7d\n", "delta", d[1], d[2], d[3], d[4], d[5] }'
