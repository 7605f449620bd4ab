/* Same-hardware native baseline for the SpMV/PageRank-iteration throughput
 * metric (BASELINE.md).
 *
 * The reference's headline number (7.7e9 edges/s, runtimes/multiple_acc.csv)
 * was measured on an AVX-512 machine with 31-44 GB/s effective bandwidth.
 * THIS sandbox's CPU has no AVX at all (SSE2-only Xeon @2.1GHz), so the only
 * meaningful like-for-like bar is: the same algorithm, in native code, on
 * THIS box. This file is a textbook CSR SpMV (float values, OpenMP static
 * row partition balanced by nnz; run.sh defaults OMP_NUM_THREADS to nproc)
 * written from scratch — no
 * reference code — plus a STREAM-style triad to measure the DRAM bandwidth
 * ceiling the kernel is bounded by.
 *
 * Shapes measured:
 *   random: V=2^17, avg degree 131 (nnz ~= 17.2M) — the reference's own
 *           headline config (V=2^17, rho=0.001).
 *   band:   V=2^22, rowLength 96 (nnz ~= 403M) — the engine's kernel lane
 *           (graft.algo.PageRankArray bench shape).
 *
 * Build/run: bench/native/run.sh  ->  one JSON line per shape.
 */
#include <stdio.h>
#include <stdlib.h>
#include <stdint.h>
#include <string.h>
#include <omp.h>

static double now_sec(void) { return omp_get_wtime(); }

/* deterministic 64-bit mix (splitmix64 constants are public domain) */
static uint64_t mix64(uint64_t z) {
  z += 0x9e3779b97f4a7c15ULL;
  z = (z ^ (z >> 30)) * 0xbf58476d1ce4e5b9ULL;
  z = (z ^ (z >> 27)) * 0x94d049bb133111ebULL;
  return z ^ (z >> 31);
}

typedef struct {
  int64_t n, nnz;
  int64_t *rowPtr;   /* n+1 */
  int32_t *colInd;   /* nnz */
  float   *val;      /* nnz */
} Csr;

static Csr build_random(int64_t n, int deg) {
  Csr m; m.n = n; m.nnz = (int64_t)n * deg;
  m.rowPtr = malloc((n + 1) * sizeof(int64_t));
  m.colInd = malloc(m.nnz * sizeof(int32_t));
  m.val    = malloc(m.nnz * sizeof(float));
  for (int64_t r = 0; r <= n; r++) m.rowPtr[r] = r * deg;
#pragma omp parallel for schedule(static)
  for (int64_t r = 0; r < n; r++)
    for (int j = 0; j < deg; j++) {
      uint64_t h = mix64(r * 1000003ULL + j);
      m.colInd[r * deg + j] = (int32_t)(h % (uint64_t)n);
      m.val[r * deg + j] = 1.0f / deg;
    }
  return m;
}

static Csr build_band(int64_t n, int width) {
  Csr m; m.n = n; m.nnz = 0;
  m.rowPtr = malloc((n + 1) * sizeof(int64_t));
  m.rowPtr[0] = 0;
  for (int64_t r = 0; r < n; r++) {
    int64_t lo = r - width / 2; if (lo < 0) lo = 0;
    int64_t hi = lo + width; if (hi > n) { hi = n; lo = hi - width; if (lo < 0) lo = 0; }
    m.rowPtr[r + 1] = m.rowPtr[r] + (hi - lo);
  }
  m.nnz = m.rowPtr[n];
  m.colInd = malloc(m.nnz * sizeof(int32_t));
  m.val    = malloc(m.nnz * sizeof(float));
#pragma omp parallel for schedule(static)
  for (int64_t r = 0; r < n; r++) {
    int64_t lo = r - width / 2; if (lo < 0) lo = 0;
    int64_t hi = lo + width; if (hi > n) { hi = n; lo = hi - width; if (lo < 0) lo = 0; }
    int64_t p = m.rowPtr[r];
    for (int64_t c = lo; c < hi; c++) {
      m.colInd[p] = (int32_t)c;
      m.val[p] = 1.0f / (hi - lo);
      p++;
    }
  }
  return m;
}

/* y = A x : the kernel under test (identical inner loop to the engine's
 * PageRankArray gather: for each row, sum val[j]*x[colInd[j]]). */
static void spmv(const Csr *m, const float *restrict x, float *restrict y) {
#pragma omp parallel for schedule(static, 4096)
  for (int64_t r = 0; r < m->n; r++) {
    float s = 0.0f;
    for (int64_t j = m->rowPtr[r]; j < m->rowPtr[r + 1]; j++)
      s += m->val[j] * x[m->colInd[j]];
    y[r] = s;
  }
}

static void bench_shape(const char *name, Csr m, int passes) {
  float *x = malloc(m.n * sizeof(float));
  float *y = malloc(m.n * sizeof(float));
  for (int64_t i = 0; i < m.n; i++) x[i] = 1.0f / m.n;
  double best = 1e30, sum = 0.0;
  spmv(&m, x, y); /* warm */
  for (int p = 0; p < passes; p++) {
    double t0 = now_sec();
    spmv(&m, x, y);
    double dt = now_sec() - t0;
    if (dt < best) best = dt;
    sum += dt;
    float *t = x; x = y; y = t;
  }
  double eps_min = (double)m.nnz / best;
  double eps_mean = (double)m.nnz * passes / sum;
  /* stream model: 4B val + 4B colInd per edge + 8B x/y traffic per row */
  double gbps = (m.nnz * 8.0 + m.n * 8.0) / best / 1e9;
  printf("{\"shape\":\"%s\",\"n\":%lld,\"nnz\":%lld,\"threads\":%d,"
         "\"min_us\":%.1f,\"mean_us\":%.1f,\"edges_per_sec_min\":%.3e,"
         "\"edges_per_sec_mean\":%.3e,\"stream_gbps_at_min\":%.1f}\n",
         name, (long long)m.n, (long long)m.nnz, omp_get_max_threads(),
         best * 1e6, sum / passes * 1e6, eps_min, eps_mean, gbps);
  fflush(stdout);
  free(x); free(y); free(m.rowPtr); free(m.colInd); free(m.val);
}

static void bench_triad(int64_t n, int passes) {
  double *a = malloc(n * 8), *b = malloc(n * 8), *c = malloc(n * 8);
#pragma omp parallel for schedule(static)
  for (int64_t i = 0; i < n; i++) { b[i] = 1.0; c[i] = 2.0; a[i] = 0.0; }
  double best = 1e30;
  for (int p = 0; p < passes; p++) {
    double t0 = now_sec();
#pragma omp parallel for schedule(static)
    for (int64_t i = 0; i < n; i++) a[i] = b[i] + 3.0 * c[i];
    double dt = now_sec() - t0;
    if (dt < best) best = dt;
  }
  printf("{\"shape\":\"stream_triad\",\"n\":%lld,\"threads\":%d,"
         "\"gbps\":%.1f}\n", (long long)n, omp_get_max_threads(),
         n * 24.0 / best / 1e9);
  fflush(stdout);
  free(a); free(b); free(c);
}

int main(int argc, char **argv) {
  int passes = argc > 1 ? atoi(argv[1]) : 20;
  bench_triad(1LL << 26, 10);
  bench_shape("random_217_deg131", build_random(1LL << 17, 131), passes);
  bench_shape("band_222_w96", build_band(1LL << 22, 96), passes);
  return 0;
}
