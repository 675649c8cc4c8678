#!/bin/bash
# usage: ab_bench.sh <filter> <runs> <tag>
F="$1"; N="${2:-2}"; TAG="${3:-ab}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
cd /root/repo
for i in $(seq 1 $N); do
  SPARK_GRAFT_BENCH_FILTER="$F" SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$CPUS" \
    SPARK_GRAFT_BENCH_OUT=/tmp/ab_${TAG}_$i.json \
    sbt -batch 'runMain graft.Bench' >/dev/null 2>&1
  echo "run $i: $(head -c 200 /tmp/ab_${TAG}_$i.json)"
done
python3 - "$TAG" "$N" <<'PYEOF'
import json,sys
tag,n=sys.argv[1],int(sys.argv[2])
runs=[]
for i in range(1,n+1):
    for l in open(f'/tmp/ab_{tag}_{i}.json'):
        d=json.loads(l)
        if 'queries' in d: runs.append(d)
cold={k:min(r['queries'][k] for r in runs) for k in runs[0]['queries']}
warm={}
for k in runs[0].get('warm',{}):
    vs=[r['warm'][k] for r in runs if k in r.get('warm',{})]
    if vs: warm[k]=min(vs)
print('MIN cold:', json.dumps({k:round(v,2) for k,v in sorted(cold.items())}))
print('MIN warm:', json.dumps({k:round(v,2) for k,v in sorted(warm.items())}))
PYEOF
