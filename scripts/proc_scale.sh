#!/bin/bash
# Process-level scaling twin of `graft.Probe kernel`: N side-by-side
# single-threaded JVMs (N one-core executors) over the SAME corpus.
# Reports the kernel-only phase (max of worker sec = wall of the parallel
# kernel phase, all workers started together) at N=8 and N=32.
set -e
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
CONVS=${SPARK_GRAFT_KERNEL_CONVS:-120000}
for N in 8 32; do
  for ((i=0; i<N; i++)); do
    java -Xms1g -Xmx1g -XX:+UseParallelGC \
      -cp "$CP" graft.Probe kernel-worker $i $N $CONVS > /tmp/kw_$i.out &
  done
  wait
  python3 - "$N" <<'PY'
import glob, re, sys
n = sys.argv[1]
secs, texts = [], 0
for f in glob.glob('/tmp/kw_*.out'):
    m = re.search(r'texts=(\d+) sec=([\d.]+)', open(f).read())
    texts += int(m.group(1)); secs.append(float(m.group(2)))
mx = max(secs)
print(f"procs={n} texts={texts} kernel_max={mx:.2f}s kernel_sum={sum(secs):.2f}s texts_per_sec={texts/mx:.0f}")
PY
  rm -f /tmp/kw_*.out
done
