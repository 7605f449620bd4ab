#!/bin/bash
# N -> 4N scaling-efficiency protocol for a shared noisy box:
#   - alternate N (1x6-core executor) and 4N (4x6-core executors) runs
#   - gate every run on 1-min load < $MAXLOAD (outside interference shows
#     as load spikes of 5-15 here)
#   - identical job at both sizes (same input, same shuffle partitions);
#     efficiency is computed from the MIN per level across all rounds
# Output: one JSON line per run appended to $OUT.
set -u
cd "$(dirname "$0")/.."
ROUNDS=${ROUNDS:-3}
N=${N:-2097152}
L=${L:-48}
ITERS=${ITERS:-10}
EXC=${EXC:-6}   # cores per executor
PARTS=${PARTS:-24}
MAXLOAD=${MAXLOAD:-3.0}
OUT=${OUT:-/tmp/scaling_runs.jsonl}
EXTRA=${EXTRA:-}   # extra Scaling args
# executor heap: at L>=192 the cached edge table outgrows 14g's storage
# fraction on the single-executor N leg and the resulting spill slows ONLY
# that level (a confound that would flatter the ratio) — size it so neither
# level spills
EXECMEM=${EXECMEM:-14g}
WORKER_MB=${WORKER_MB:-16384}  # local-cluster worker OFFER; must be >= EXECMEM
JAR=target/scala-2.13/parallelizinggraphalgorithmsspark_2.13-0.1.0.jar

wait_quiet() {
  for _ in $(seq 1 40); do
    load=$(cut -d' ' -f1 /proc/loadavg)
    ok=$(python3 -c "print(1 if $load < $MAXLOAD else 0)")
    [ "$ok" = "1" ] && return 0
    sleep 20
  done
  echo "[pair] proceeding despite load $load" >&2
}

run_level() { # $1 = executors, $2 = label cores
  wait_quiet
  mkdir -p /dev/shm/graft-spark
  # SPARK_LOCAL_DIRS must be in the ENV: local-cluster worker threads (in
  # the driver JVM) pass their env to forked executor JVMs; the
  # spark.local.dir conf does NOT reach executors in this mode, so without
  # it spill/shuffle lands on the slow shared disk (measured: a 4x6 run at
  # 403M edges crawled at ~5 busy cores for 20+ min).
  SPARK_GRAFT_KERNEL=${KERNEL:-shuffle} SPARK_GRAFT_PARTS=$PARTS \
  SPARK_GRAFT_CONF="${CONF:-}" \
  SPARK_SCALA_VERSION=2.13 \
  SPARK_LOCAL_DIRS=/dev/shm/graft-spark \
  SPARK_GRAFT_MASTER="local-cluster[$1,$EXC,$WORKER_MB]" \
  /opt/spark/bin/spark-submit --driver-memory 8g \
    --conf spark.executor.memory=$EXECMEM \
    --conf spark.network.timeout=600s \
    --conf "spark.executor.extraJavaOptions=-XX:ParallelGCThreads=$EXC -XX:ConcGCThreads=2" \
    `# GC threads sized to the executor's cores, not the box's: JVM` \
    `# ergonomics sees all 32 host cores and spawns ~23 parallel GC` \
    `# threads PER executor JVM — 4 executors x 23 GC threads stampeding` \
    `# 32 cores inflated 4N iteration CPU ~4x vs the N leg (measured via` \
    `# jstack/task-CPU on the r5 campaign). A real cluster's container` \
    `# gets exactly this: GC parallelism = its cpuset, both levels alike.` \
    --class graft.bench.Scaling "$JAR" "$N" "$L" "$ITERS" --cores "$2" $EXTRA 2>/dev/null \
    | grep '^{' >> "$OUT"
  # ^ network.timeout 600s: this virtualized box intermittently freezes JVM
  # threads for 10 s+ (dmesg "sched: DL replenish lagged", codegen walls of
  # 7.7 s, executor->driver heartbeat RPCs timing out at the 10 s ask
  # limit). At the default 120 s expiry the driver declares the executor
  # dead mid-leg and SIGTERMs it; the lost cache + shuffle blocks then
  # trigger a recompute storm that inflates 4N iteration walls 3-10x
  # (observed: one leg churned through 161 executor replacements). Raising
  # the expiry rides out the freezes; the min-of-quiet-iterations estimator
  # absorbs the frozen iterations as noise.
}

# Executor SHAPE per level. Default (legacy, r4 protocol): one $EXC-core
# executor at N vs four at 4N. That shape gives the N level a subsidy no
# real cluster has: with a single executor ALL shuffle blocks are
# same-JVM local reads, while the 4N level pushes 3/4 of shuffle bytes
# through netty. A real N->4N scale-up adds executors of the SAME shape,
# and its remote-shuffle fraction barely moves ((N-1)/N -> (4N-1)/4N).
# Set EXEC_N/EXEC_4N (executor counts) + EXC (cores per executor) for an
# equal-shape run, e.g. EXEC_N=6 EXEC_4N=24 EXC=1: remote fraction 5/6 vs
# 23/24 — near-equal, like a real cluster.
EXEC_N=${EXEC_N:-1}
EXEC_4N=${EXEC_4N:-4}
for r in $(seq 1 "$ROUNDS"); do
  echo "[pair] round $r N ($EXEC_N x $EXC)" >&2
  run_level "$EXEC_N" "$((EXC * EXEC_N))"
  echo "[pair] round $r 4N ($EXEC_4N x $EXC)" >&2
  run_level "$EXEC_4N" "$((EXC * EXEC_4N))"
done
echo "[pair] done" >&2
