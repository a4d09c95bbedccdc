#!/bin/bash
# Run a graft main against the compiled classes + Spark jars without sbt
# (keeps the sbt project lock free during long tmux runs).
cd "$(dirname "$0")/.."
# Fixed-size heap (Xms=Xmx): with a growable heap the probe JVMs spent up
# to 93% of wall-clock in the KERNEL mid-measurement (vmstat `sy`, zero
# steal) — G1 uncommits memory after each between-runs GC, and the next
# timed run re-faults tens of GB of zeroed pages (q_winnow_true at sf100:
# 78 s median → 7.9 s once pinned). Pinning stops the uncommit/re-fault
# cycle; pages still fault in lazily (NO AlwaysPreTouch — zeroing tens of
# GB per short-lived JVM forces the OS to reclaim that much page cache
# synchronously at every startup, which measured WORSE than the churn).
#
# Default size: half of MemTotal, clamped to 2–8 g (the rule the test
# runner uses), so the JVM starts on any host; a fixed 32 g default could
# not map its heap on a 16 GB box. GRAFT_HEAP overrides it.
#
# Heap vs page cache — the measured rule for GRAFT_HEAP (PERF_NOTES r17,
# on a 125 GiB host): at sf100 a 96 g pinned heap leaves ~25 GiB for the
# OS page cache, so SCAN-heavy queries lose file residency and turn into a
# coin flip (q_tpch21 median 147.5 s at 96 g vs 54.6 s at 32 g in full
# isolation), while AGGREGATION-SPILL-heavy queries invert (q_dup_ngrams
# 321.5 s at 32 g vs 184.4 s at 96 g — the spill wants the heap). So
# isolated per-query timings at sf100 use 32 g (cache-friendly, the r13+
# tail-matrix convention); full-session sf100 SWEEPS and large ScaleUp
# generations need GRAFT_HEAP=96g (32 g OOMed the 187-query session in
# r13); and a number measured under one heap is never compared against the
# other. On a real cluster the same tradeoff is executor-memory vs
# host-cache provisioning: spill-bound stages size the executor, scan-bound
# stages want the difference left to the OS.
#
# UTC is pinned here because this script bypasses build.sbt's
# -Dspark.sql.session.timeZone=UTC: the NTZ->Timestamp cast in Tables
# goes through the session timezone, and a non-UTC host would silently
# shift events instants relative to the NANOS-long path.
heap="${GRAFT_HEAP:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java -Xms"$heap" -Xmx"$heap" \
  -Duser.timezone=UTC -Dspark.sql.session.timeZone=UTC \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dio.netty.tryReflectionSetAccessible=true \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
