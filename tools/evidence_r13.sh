#!/bin/bash
# Round-13 evidence passes that are NOT ladder rungs: scaled spot
# checks (machine-ingested verdicts), the cross-process ledger spec,
# and the full sf0.01 gate record. Run after `sbt compile` and the
# ScaleGen corpora exist; each sub-command is idempotent.
set -euo pipefail
cd /root/repo
CP="target/scala-2.13/classes:/opt/spark/jars/*"
JOPTS="--add-exports java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens java.base/java.nio=ALL-UNNAMED \
 --add-opens java.base/java.util=ALL-UNNAMED \
 --add-opens java.base/java.lang=ALL-UNNAMED \
 --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
 --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
 --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
 --add-opens java.base/sun.security.action=ALL-UNNAMED"

SF1_SPOTS="q_knn_join q_knn_join_mp q_knn_filtered q_knn_filtered_part \
 q_knn_incr q_knn_stream q_knn_part_incr q_ledger_binpack q_ledger_constraints"
SF10_SPOTS="q_knn_filtered_part q_knn_stream q_knn_part_incr"

spot() { # sfdir outdir queries...
  sf="$1"; out="$2"; shift 2
  echo "=== spot $sf start $(date +%T)"
  SPARK_GRAFT_CPUS=16 java -Xmx40g $JOPTS -cp "$CP" graft.Verify "$sf" "$out" "$@" \
    2> "/tmp/spot_$(basename "$out").stderr"
  python3 tools/spot_check.py "$sf" "$out" "$@"
  echo "=== spot $sf done $(date +%T)"
}

case "${1:-all}" in
  sf1)  spot target/scaledata/sf1 /tmp/verify_r13_sf1 $SF1_SPOTS ;;
  sf10) spot target/scaledata/sf10 /tmp/verify_r13_sf10 $SF10_SPOTS ;;
  probes) # cross-process ledger commits (child JVMs per writer)
    sbt -batch "testOnly graft.LedgerProcessSpec"
    ;;
  gate) # full sf0.01 gate: Verify everything, DuckDB-compare everything
    SPARK_GRAFT_CPUS=16 java -Xmx40g $JOPTS -cp "$CP" graft.Verify \
      /root/testdata/sf0.01 /tmp/verify_r13_gate 2> /tmp/gate_r13.stderr
    python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/verify_r13_gate \
      | tee /tmp/gate_r13.out
    python3 - <<'EOF'
import json, re
txt = open("/tmp/gate_r13.out").read()
m = re.search(r"(\d+) pass, (\d+) fail", txt)
json.dump({"pass": int(m.group(1)), "fail": int(m.group(2)),
           "scale": "sf0.01"}, open("/tmp/gate_full_r13.json", "w"))
print(open("/tmp/gate_full_r13.json").read())
EOF
    ;;
esac
