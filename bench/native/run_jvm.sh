#!/bin/sh
# Build + run the JVM-threads SpMV ceiling (see SpmvJvm.java) next to the
# native one (run.sh): the same 2^22-row, 96-wide float CSR gather loop.
# Usage: bench/native/run_jvm.sh [threads] [passes]   -> one JSON line on stdout.
# threads defaults to $(nproc), as run.sh's OpenMP default does; the heap
# (SPMV_JVM_HEAP, default 5g) holds the ~3.3 GB CSR (4 + 4 B per nonzero).
set -e
cd "$(dirname "$0")"
classes=$(mktemp -d)
trap 'rm -rf "$classes"' EXIT
javac -encoding UTF-8 -d "$classes" SpmvJvm.java
java -Xmx"${SPMV_JVM_HEAP:-5g}" -cp "$classes" SpmvJvm "${1:-$(nproc)}" "${2:-15}"
