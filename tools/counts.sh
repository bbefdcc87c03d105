#!/bin/sh
# Source-derived doc counts (r12 verdict #8: the README/COVERAGE/SKILL
# counts drifted twice — derive them instead of hand-editing).
#   queries : distinct Q("q_...") registrations in the query files
#   tests   : ScalaTest `test(`/`property(` registrations (cross-check
#             with the `Total number of tests run:` line of `sbt test`)
#   engine  : code lines of src/main/scala/graft/engine/*.scala — lines
#             that are neither blank nor `//`, `/*`, `*` or `*/` comments
cd "$(dirname "$0")/.." || exit 1
q=$(grep -oh 'Q("q_[a-z0-9_]*"' src/main/scala/graft/queries/*.scala | sort -u | wc -l)
t=$(grep -rhoE '^\s+(test|property)\(' src/test/scala --include='*.scala' | wc -l)
e=$(cat src/main/scala/graft/engine/*.scala | grep -cvE '^[[:space:]]*($|//|/\*|\*)')
echo "queries: $q"
echo "tests:   $t (registration sites; trust sbt's own total if they differ)"
echo "engine:  $e code lines (src/main/scala/graft/engine/*.scala)"
