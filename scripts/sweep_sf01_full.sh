#!/bin/bash
# Full-registry parity sweep at sf0.1 in 4 PARITY_SUBSET chunks
# (one Spark session per chunk keeps peak memory bounded), merged into
# PARITY_sf0.1_full.json by merge_parity_chunks.py, which stamps the
# note with the commit the sweep ran on.
set -u
cd /root/repo
CHUNKS=4
python - <<'EOF'
import importlib.util, json
spec = importlib.util.spec_from_file_location("e", "/root/repo/__spark_entry__.py")
m = importlib.util.module_from_spec(spec); spec.loader.exec_module(m)
names = list(m.queries())
k = 4
per = (len(names) + k - 1) // k
for i in range(k):
    open(f"/tmp/parity_chunk_{i}.txt", "w").write(",".join(names[i*per:(i+1)*per]))
print("chunk sizes:", [len(open(f"/tmp/parity_chunk_{i}.txt").read().split(",")) for i in range(k)])
EOF
rc=0
for i in $(seq 0 $((CHUNKS-1))); do
  echo "=== chunk $i ==="
  PARITY_SUBSET="$(cat /tmp/parity_chunk_$i.txt)" \
  PARITY_OUT="/tmp/PARITY_sf0.1_chunk_$i.json" \
  python scripts/drive_driver.py /root/testdata/sf0.1 || rc=1
done
python scripts/merge_parity_chunks.py && echo "SWEEP DONE rc=$rc"
