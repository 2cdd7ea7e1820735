#!/bin/bash
# Full local gate: compile + tests + sf0.01 oracle check + sf0.1 bench.
# Mirrors everything the driver grades; run before any milestone commit.
set -euo pipefail
cd "$(dirname "$0")/.."
# graded ops bind graft.api instead of copying it: the bounded-heap
# top-k, the vector helpers, the seed sampler and the shingler each
# have one definition (Transforms / VectorExprs)
copies=$(grep -rnE '\bTopKAgg\b|def (dotF|l2normF|hashSeeds|shingles)\b' \
  src/main/scala/graft/ops src/main/scala/graft/streaming || true)
if [ -n "$copies" ]; then
  printf '%s\n' "$copies"
  echo "gate: ops/streaming copy graft.api helpers (call Transforms instead)" >&2
  exit 1
fi
# one scratch-dir function: only graft.Tables.scratch reads
# java.io.tmpdir; and one commit protocol: SnapshotTable.commit's
# link/rename publish, with no pluggable CommitProtocol seam
strays=$( { grep -rln 'java\.io\.tmpdir' src/main/scala/graft |
            grep -vx 'src/main/scala/graft/Tables\.scala'
            grep -rn 'CommitProtocol' src; } || true)
if [ -n "$strays" ]; then
  printf '%s\n' "$strays"
  echo "gate: java.io.tmpdir outside Tables.scratch, or a CommitProtocol reference" >&2
  exit 1
fi
# one parquet reader in SnapshotTable: every read of table or cdc
# files goes through readFiles, which reads schema-first whenever the
# manifest declares a schema
reads=$(awk '/def readFiles\(/ { inside = 1; next }
             /^ *([a-z]+(\[[a-z]+\])? )*def / { inside = 0 }
             /spark\.read([^A-Za-z0-9_]|$)/ && !inside { print FILENAME ":" FNR ": " $0 }' \
  src/main/scala/graft/api/SnapshotTable.scala)
if [ -n "$reads" ]; then
  printf '%s\n' "$reads"
  echo "gate: SnapshotTable reads parquet outside readFiles" >&2
  exit 1
fi
# one manifest format: #schema and #buckets are required on read, so
# readFiles always gets a schema and ManifestMeta holds neither as an
# Option (no footer-inference or caller-trusted-bucket branch)
legacy=$(awk '/readFiles\(.*None/ { print FILENAME ":" FNR ": " $0 }
              /case class ManifestMeta\(/ { inside = 1 }
              inside && /(schema|buckets): *Option\[/ {
                print FILENAME ":" FNR ": " $0 }
              inside && /\)$/ { inside = 0 }' \
  src/main/scala/graft/api/SnapshotTable.scala)
if [ -n "$legacy" ]; then
  printf '%s\n' "$legacy"
  echo "gate: SnapshotTable reads a manifest without #schema or #buckets" >&2
  exit 1
fi
# EtlPipeline.run counts through observed metrics of the jobs it runs
# anyway, so the pipeline has no driver action of its own; and a
# commit's cdc files are written only by writeDataAndCdcFiles, which
# runs that write alongside the data write and joins it on every path
serial=$( { grep -HnE '\.(count|collect|head|first)\(\)|\.take\(' \
              src/main/scala/graft/pipeline/EtlPipeline.scala
            find src/main/scala -name '*.scala' -exec awk '
              FNR == 1 { inside = 0 }
              /def writeDataAndCdcFiles\(/ { inside = 1; next }
              /^ *([a-z]+(\[[a-z]+\])? )*def / { inside = 0 }
              /writeCdcFiles\(/ && !/def writeCdcFiles\(/ && !inside {
                print FILENAME ":" FNR ": " $0 }' {} +; } || true)
if [ -n "$serial" ]; then
  printf '%s\n' "$serial"
  echo "gate: a driver action in EtlPipeline.scala, or writeCdcFiles called outside writeDataAndCdcFiles" >&2
  exit 1
fi
# one definition per shared sub-computation: no run of 6 code lines
# (at least 150 characters in total) may occur at two places under
# src/main/scala. Lines are trimmed; blank lines, comments (`//`, `*`,
# `/*`), imports and lone closers are skipped. A shared Spark prefix
# is a function, a shared oracle CTE a `...Sql` fragment that the
# oracles append to (EtlOps.snapshotOrdersSql, GraphOps.copurchaseSql)
python3 - src/main/scala <<'PY'
import collections, os, re, sys
N, MIN_CHARS = 6, 150
closer = re.compile(r'^[)}\]]+[,;]?$')
runs = collections.defaultdict(list)
for d, _, fs in sorted(os.walk(sys.argv[1])):
    for f in sorted(fs):
        if not f.endswith('.scala'):
            continue
        path = os.path.join(d, f)
        kept = [(n, t) for n, t in enumerate(
                    (l.strip() for l in open(path, encoding='utf-8')), 1)
                if t and not t.startswith(('//', '*', '/*', 'import'))
                and not closer.match(t)]
        for k in range(len(kept) - N + 1):
            run = tuple(t for _, t in kept[k:k + N])
            if sum(map(len, run)) >= MIN_CHARS:
                runs[run].append('%s:%d' % (path, kept[k][0]))
copies = [(run, at) for run, at in runs.items() if len(at) > 1]
for run, at in copies:
    print('copy of "%s" at %s' % (run[0][:60], ', '.join(at)))
if copies:
    sys.exit('gate: %d runs of %d lines occur twice under %s (define them once)'
             % (len(copies), N, sys.argv[1]))
PY
# one job counter: graft.Session's tag-keyed listener (Session.counted,
# Session.timed) is the only listener and the only listener-bus user
listeners=$(grep -rnE 'addSparkListener|listenerBus' src |
  grep -v '^src/main/scala/graft/Session\.scala:' || true)
if [ -n "$listeners" ]; then
  printf '%s\n' "$listeners"
  echo "gate: a Spark listener outside graft.Session (count jobs with Session.counted)" >&2
  exit 1
fi
sbt -batch compile test
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_out"
python3 scripts/check.py /root/testdata/sf0.01 /tmp/gate_out
bench=$(
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=${BENCH_CPUS:-32} \
  sbt -batch "runMain graft.Bench" | grep -E '^\{'
)
printf '%s\n' "$bench"
# Bench's last stdout line is the one its output is graded by: it must
# be the headline metric carrying a non-empty per-query map
printf '%s\n' "$bench" | tail -n 1 | python3 -c '
import json, sys
line = json.loads(sys.stdin.read())
if line.get("metric") != "headline" or not line.get("queries"):
    sys.exit("gate: last Bench line is not a headline metric with a non-empty queries map")
'
# FULLBENCH's staged_read list is derived from graft.Staged's read
# counts: one consumer of each stage family must be in it, or the
# derivation is broken
python3 -c '
import json, sys
ops = json.load(open("FULLBENCH.json"))["staged_read"]["ops"]
missing = [o for o in ("graph_adamic_adar", "dedup_simhash_band") if o not in ops]
if missing:
    sys.exit("gate: FULLBENCH staged_read.ops lacks %s" % ", ".join(missing))
'
