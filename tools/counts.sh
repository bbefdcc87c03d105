#!/bin/sh
# Source-derived doc counts (r12 verdict #8: the README/COVERAGE/SKILL
# counts drifted twice — derive them instead of hand-editing).
#   queries : distinct Q("q_...") registrations in the query files
#   tests   : ScalaTest `test(`/`property(` registrations (cross-check
#             with the `Total number of tests run:` line of `sbt test`)
#   engine  : code lines of src/main/scala/graft/engine/*.scala — lines
#             that are neither blank nor `//`, `/*`, `*` or `*/` comments
#   streaming: code lines of src/main/scala/graft/streaming/*.scala, same rule
#   probes  : code lines of src/test/scala/graft/probe/*.scala, same rule
#   obs     : code lines of src/main/scala/graft/obs/*.scala, same rule
#   functions: code lines of src/main/scala/graft/functions/*.scala, same rule
#   bench   : code lines of src/main/scala/graft/Bench.scala, same rule
cd "$(dirname "$0")/.." || exit 1
q=$(grep -oh 'Q("q_[a-z0-9_]*"' src/main/scala/graft/queries/*.scala | sort -u | wc -l)
t=$(grep -rhoE '^\s+(test|property)\(' src/test/scala --include='*.scala' | wc -l)
code='^[[:space:]]*($|//|/\*|\*)'
e=$(cat src/main/scala/graft/engine/*.scala | grep -cvE "$code")
s=$(cat src/main/scala/graft/streaming/*.scala | grep -cvE "$code")
p=$(cat src/test/scala/graft/probe/*.scala | grep -cvE "$code")
o=$(cat src/main/scala/graft/obs/*.scala | grep -cvE "$code")
f=$(cat src/main/scala/graft/functions/*.scala | grep -cvE "$code")
b=$(grep -cvE "$code" src/main/scala/graft/Bench.scala)
echo "queries: $q"
echo "tests:   $t (registration sites; trust sbt's own total if they differ)"
echo "engine:  $e code lines (src/main/scala/graft/engine/*.scala)"
echo "streaming: $s code lines (src/main/scala/graft/streaming/*.scala)"
echo "probes:  $p code lines (src/test/scala/graft/probe/*.scala)"
echo "obs:     $o code lines (src/main/scala/graft/obs/*.scala)"
echo "functions: $f code lines (src/main/scala/graft/functions/*.scala)"
echo "bench:   $b code lines (src/main/scala/graft/Bench.scala)"
