#!/bin/sh
# Pre-commit regression tripwire for the green board (builder-side only).
#
# One command that refuses to let a regression through:
#   tools/precommit.sh            # sf0.001 (~1 min) — the pre-commit gate
#   tools/precommit.sh /root/testdata/sf0.01   # the full round gate (~4 min)
#
# Composition (each step exits nonzero on any failure, set -e stops there):
#   1. sbt compile + full ScalaTest suite? NO — the suite is 4 min; the
#      tripwire compiles only. Run `sbt test` separately before a round
#      closes. (SPARK_GRAFT_PRECOMMIT_TEST=1 opts the suite in.)
#   1b. perfbench/ compiled against the program: the benchmark calls the
#      program's builders and entry points, so an API change that breaks
#      its build is refused here, not at the next benchmark run
#   2. graft.Verify on the chosen SF → fresh temp dir (every query dumped,
#      decimal-schema refusal enforced inside Verify itself)
#   3. tools/audit_dumps.sh — oracle value compare (driver-faithful pyarrow
#      read, DuckDB replica), float bit-identity, order-key uniqueness;
#      all three must report "0 fail"
#   4. tools/test_canon.py — executable canonicalization pins
#
# Wire it up once with:  git config core.hooksPath tools/githooks
set -e
SF="${1:-/root/testdata/sf0.001}"
cd "$(dirname "$0")/.."
OUT="$(mktemp -d /tmp/graft_precommit.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT

echo "== precommit: compile =="
sbt -batch compile < /dev/null
echo "== precommit: perfbench compile against the program =="
(cd perfbench && sbt -batch compile < /dev/null)
if [ -n "${SPARK_GRAFT_PRECOMMIT_TEST:-}" ]; then
  echo "== precommit: full test suite (opt-in) =="
  sbt -batch test < /dev/null
fi

echo "== precommit: graft.Verify on $SF =="
VERIFY_LOG="$OUT/.verify.log"
# Capture to the log first and test sbt's own exit status — POSIX sh has no
# pipefail, so a `sbt | tee | grep || true` chain would mask a hard JVM
# crash. Only after the exit code passes do we grep for display + refusals.
if ! sbt -batch "runMain graft.Verify $SF $OUT" < /dev/null > "$VERIFY_LOG" 2>&1; then
  tail -40 "$VERIFY_LOG" >&2
  echo "precommit: REFUSED — Verify exited nonzero (JVM/sbt failure)" >&2
  exit 1
fi
grep -E '\[verify\]|error\]:|Exception' "$VERIFY_LOG" || true
# Verify prints "[verify] <name> failed: …" per broken query and still
# exits 0 (it dumps what it can) — the tripwire must treat any such line,
# or a missing dump, as a refusal
if grep -q '\[verify\] .* failed:' "$VERIFY_LOG"; then
  echo "precommit: REFUSED — Verify reported failed queries" >&2
  exit 1
fi
[ -f "$OUT/oracle_sql.json" ] || { echo "precommit: REFUSED — no oracle_sql.json dumped" >&2; exit 1; }

echo "== precommit: audit_dumps (oracle values + float bits + order keys) =="
tools/audit_dumps.sh "$SF" "$OUT"

echo "== precommit: canonicalization pins =="
python3 tools/test_canon.py

# Pass stamp: proves this gate ran (and on what) before a round-closing
# commit (VERDICT r11 item 4). `head` is the SHA the gate ran on top of —
# necessarily the closing commit's parent, since a commit cannot embed its
# own hash. `tree` pins the exact tracked content that was verified
# (git stash create includes uncommitted tracked changes without touching
# any ref), so the stamp is checkable against the closing commit's tree.
STASH_C="$(git stash create 2>/dev/null || true)"
printf 'sf=%s head=%s tree=%s date=%s\n' "$SF" \
  "$(git rev-parse HEAD 2>/dev/null || echo unknown)" \
  "$(git rev-parse "${STASH_C:-HEAD}^{tree}" 2>/dev/null || echo unknown)" \
  "$(date -u +%Y-%m-%dT%H:%M:%SZ)" > tools/precommit.last

echo "== precommit: all gates green =="
