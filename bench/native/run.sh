#!/bin/sh
# Build + run the native same-hardware SpMV baseline (see spmv_native.c).
# Usage: bench/native/run.sh [passes]   -> JSON lines on stdout.
set -e
cd "$(dirname "$0")"
gcc -O3 -march=native -funroll-loops -fopenmp spmv_native.c -o spmv_native
OMP_NUM_THREADS=${OMP_NUM_THREADS:-$(nproc)} ./spmv_native "${1:-20}"
