/* TIN containment probe + P2/P3/P5/E3 propagation — exact C port of
 * _probe_batch_core's normalized-pack path (operators/tin.py). Per-doc
 * float math keeps the NumPy expression order verbatim, so outputs are
 * BIT-IDENTICAL; the containment selection short-circuits at the first
 * hit, which is exactly the value the NumPy reversed-scatter keeps.
 * Compile with -ffp-contract=off (no FMA) — see _delaunay_cc.py.
 *
 * Why: the NumPy path expands every candidate (doc x ~3.4 covering
 * triangles) into full-length temporaries — ~1.9 us/doc measured, the
 * dominant share of the headline doc stream. The scalar C loop gathers
 * each candidate's vertices once, stops at the first containing
 * triangle, and holds the whole per-doc state in registers.
 *
 * Visit order: the loop is bound by memory latency, not compute — a doc
 * in arrival order lands on a random part of the pack (48.7 MB for the
 * 200k-point bench cloud). So each call first computes every doc's fine
 * cell, LSD-radix-sorts the doc indices by the cell's Morton key (the
 * cells.numpy_spread interleave of (iy, ix), 2 x log2(nf) bits), probes
 * in that order and writes zp/var/found back to each doc's own slot.
 * Docs of one cell then read the same offsets/cell_tri run and triangle
 * rows back to back, and the Z-order sweep keeps nearby cells close in
 * time: 1.7-1.9x on 46,875-doc batches (a stream task's share of 3M
 * docs) against a 200k-point pack, one thread of a 4-core host. A doc's
 * result depends only on its own (x, y) and the pack, and the per-doc
 * code below is unchanged, so the order cannot move a bit of the output.
 */

#include <math.h>
#include <stdint.h>
#include <stdlib.h>

/* Sort word = Morton key << IDX_BITS | doc index within its block.
 * Blocks of 2^IDX_BITS docs bound the scratch at 2 x 8 MB; the key
 * keeps 64 - IDX_BITS = 44 bits, i.e. nf up to 2^22. */
#define IDX_BITS 20
#define BLOCK ((int64_t)1 << IDX_BITS)
#define MAX_DIGIT 11   /* radix digit width cap: 2048-bucket histogram */

/* 32 -> 64-bit Morton spread, abcd -> 0a0b0c0d (cells.numpy_spread) */
static uint64_t spread(uint64_t v)
{
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFull;
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFull;
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0Full;
    v = (v | (v << 2)) & 0x3333333333333333ull;
    v = (v | (v << 1)) & 0x5555555555555555ull;
    return v;
}

/* inverse of spread on the even bits */
static uint64_t compact(uint64_t v)
{
    v &= 0x5555555555555555ull;
    v = (v | (v >> 1)) & 0x3333333333333333ull;
    v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0Full;
    v = (v | (v >> 4)) & 0x00FF00FF00FF00FFull;
    v = (v | (v >> 8)) & 0x0000FFFF0000FFFFull;
    v = (v | (v >> 16)) & 0x00000000FFFFFFFFull;
    return v;
}

/* Stable LSD radix sort of a[0..m) on bits [IDX_BITS, IDX_BITS + kbits),
 * ping-ponging with b; returns whichever buffer holds the result. A
 * pass whose digit is the same for every word is skipped. */
static uint64_t *radix_sort(uint64_t *a, uint64_t *b, int64_t m, int kbits)
{
    const int passes = (kbits + MAX_DIGIT - 1) / MAX_DIGIT;
    if (m < 2 || passes == 0)
        return a;
    const int width = (kbits + passes - 1) / passes;
    const uint64_t mask = ((uint64_t)1 << width) - 1;
    int64_t count[1 << MAX_DIGIT];
    for (int shift = IDX_BITS; shift < IDX_BITS + kbits; shift += width) {
        for (uint64_t d = 0; d <= mask; d++)
            count[d] = 0;
        for (int64_t i = 0; i < m; i++)
            count[(a[i] >> shift) & mask]++;
        if (count[(a[0] >> shift) & mask] == m)
            continue;
        int64_t sum = 0;
        for (uint64_t d = 0; d <= mask; d++) {
            const int64_t c = count[d];
            count[d] = sum;
            sum += c;
        }
        for (int64_t i = 0; i < m; i++) {
            const uint64_t w = a[i];
            b[count[(w >> shift) & mask]++] = w;
        }
        uint64_t *t = a;
        a = b;
        b = t;
    }
    return a;
}

/* Fine cell of each of the m docs at (x, y) -> sort words (Morton key,
 * index j), radix-sorted into Morton order. The clamped cell math is
 * the NumPy path's, expression for expression. */
static const uint64_t *sort_block(const double *x, const double *y,
                                  int64_t m, double x0, double y0,
                                  double fsize, int64_t nf, int bits,
                                  uint64_t *scratch, int64_t cap)
{
    for (int64_t j = 0; j < m; j++) {
        int64_t ix = (int64_t)((x[j] - x0) / fsize);
        if (ix < 0) ix = 0;
        if (ix > nf - 1) ix = nf - 1;
        int64_t iy = (int64_t)((y[j] - y0) / fsize);
        if (iy < 0) iy = 0;
        if (iy > nf - 1) iy = nf - 1;
        const uint64_t key = (spread((uint64_t)iy) << 1) | spread((uint64_t)ix);
        scratch[j] = key << IDX_BITS | (uint64_t)j;
    }
    return radix_sort(scratch, scratch + cap, m, 2 * bits);
}

/* Returns 0, or -1 when the sort scratch cannot be allocated (nothing
 * written then). */
int64_t gpiv_probe_batch(
    const double *x, const double *y, int64_t n,
    double x0, double y0, double ext, int64_t nf,
    const int64_t *offsets, const int32_t *cell_tri,
    const int32_t *tv,                       /* (m,3) row-major */
    const double *tx1, const double *ty1,    /* dense vertex xy */
    const double *tx2, const double *ty2,
    const double *tx3, const double *ty3,
    const double *pz,
    const double *p_var_x, const double *p_var_y, const double *p_var_z,
    const double *p_cov_xy, const double *p_cov_xz, const double *p_cov_yz,
    double cx, double cy, double cz,
    double *zp_out, double *var_out, uint8_t *found_out)
{
    const double fsize = ext / (double)nf;
    int bits = 0;
    while (((int64_t)1 << bits) < nf)
        bits++;
    if (n <= 0)
        return 0;
    const int64_t cap = n < BLOCK ? n : BLOCK;
    uint64_t *scratch = malloc(2 * (size_t)cap * sizeof *scratch);
    if (scratch == NULL)
        return -1;
    const uint64_t *order = scratch;
    int64_t base = 0;
    for (int64_t k = 0; k < n; k++) {
        if (k % BLOCK == 0) {
            base = k;
            order = sort_block(x + k, y + k, n - k < BLOCK ? n - k : BLOCK,
                               x0, y0, fsize, nf, bits, scratch, cap);
        }
        const uint64_t w = order[k - base];
        const int64_t i = base + (int64_t)(w & (uint64_t)(BLOCK - 1));
        const uint64_t key = w >> IDX_BITS;
        const double px = x[i];
        const double py = y[i];
        const int64_t cell = (int64_t)compact(key >> 1) * nf
                           + (int64_t)compact(key);
        const int64_t lo = offsets[cell];
        const int64_t hi = offsets[cell + 1];
        int64_t sel = -1;
        for (int64_t c = lo; c < hi; c++) {
            const int64_t t = cell_tri[c];
            const double ax1 = tx1[t], ay1 = ty1[t];
            const double ax2 = tx2[t], ay2 = ty2[t];
            const double ax3 = tx3[t], ay3 = ty3[t];
            const double d1 = (px - ax2) * (ay1 - ay2) - (ax1 - ax2) * (py - ay2);
            const double d2 = (px - ax3) * (ay2 - ay3) - (ax2 - ax3) * (py - ay3);
            const double d3 = (px - ax1) * (ay3 - ay1) - (ax3 - ax1) * (py - ay1);
            const int inside = ((d1 >= 0.0) & (d2 >= 0.0) & (d3 >= 0.0))
                             | ((d1 <= 0.0) & (d2 <= 0.0) & (d3 <= 0.0));
            if (inside) {
                sel = t;
                break;   /* first (lowest-row) hit wins, like the
                          * NumPy reversed scatter */
            }
        }
        if (sel < 0) {
            zp_out[i] = NAN;
            var_out[i] = NAN;
            found_out[i] = 0;
            continue;
        }
        const int32_t v1 = tv[3 * sel];
        const int32_t v2 = tv[3 * sel + 1];
        const int32_t v3 = tv[3 * sel + 2];
        const double x1 = tx1[sel] - cx, y1 = ty1[sel] - cy, z1 = pz[v1] - cz;
        const double x2 = tx2[sel] - cx, y2 = ty2[sel] - cy, z2 = pz[v2] - cz;
        const double x3 = tx3[sel] - cx, y3 = ty3[sel] - cy, z3 = pz[v3] - cz;
        const double xp = px - cx;
        const double yp = py - cy;
        const double A = y1 * z3 - y1 * z2 + y2 * z1 - y2 * z3 + y3 * z2 - y3 * z1;
        const double B = x1 * z2 - x1 * z3 + x2 * z3 - x2 * z1 + x3 * z1 - x3 * z2;
        const double C = x1 * y2 - x1 * y3 + x2 * y3 - x2 * y1 + x3 * y1 - x3 * y2;
        const double D = x1 * y2 * z3 - x1 * y3 * z2 + x2 * y3 * z1
                       - x2 * y1 * z3 + x3 * y1 * z2 - x3 * y2 * z1;
        zp_out[i] = (A / C) * xp + (B / C) * yp + D / C + cz;
        const double C2 = C * C;
        const double E = xp * A + yp * B + D;
        const double d0 = ((y3 - y2) * E + ((z2 - z3) * yp + (y2 * z3 - y3 * z2)) * C) / C2;
        const double d3_ = ((y1 - y3) * E + ((z3 - z1) * yp + (y3 * z1 - y1 * z3)) * C) / C2;
        const double d6 = ((y2 - y1) * E + ((z1 - z2) * yp + (y1 * z2 - y2 * z1)) * C) / C2;
        const double d1_ = ((x2 - x3) * E + ((z3 - z2) * xp + (x3 * z2 - x2 * z3)) * C) / C2;
        const double d4 = ((x3 - x1) * E + ((z1 - z3) * xp + (x1 * z3 - x3 * z1)) * C) / C2;
        const double d7 = ((x1 - x2) * E + ((z2 - z1) * xp + (x2 * z1 - x1 * z2)) * C) / C2;
        const double d2_ = ((y2 - y3) * xp + (x3 - x2) * yp + (x2 * y3 - x3 * y2)) / C;
        const double d5 = ((y3 - y1) * xp + (x1 - x3) * yp + (x3 * y1 - x1 * y3)) / C;
        const double d8 = ((y1 - y2) * xp + (x2 - x1) * yp + (x1 * y2 - x2 * y1)) / C;
        /* E3 accumulation in the NumPy loop's k = 0,1,2 order with the
         * same left-associated sum per term */
        double acc = 0.0;
        acc += d0 * d0 * p_var_x[v1] + d1_ * d1_ * p_var_y[v1]
             + d2_ * d2_ * p_var_z[v1] + 2 * d0 * d1_ * p_cov_xy[v1]
             + 2 * d0 * d2_ * p_cov_xz[v1] + 2 * d1_ * d2_ * p_cov_yz[v1];
        acc += d3_ * d3_ * p_var_x[v2] + d4 * d4 * p_var_y[v2]
             + d5 * d5 * p_var_z[v2] + 2 * d3_ * d4 * p_cov_xy[v2]
             + 2 * d3_ * d5 * p_cov_xz[v2] + 2 * d4 * d5 * p_cov_yz[v2];
        acc += d6 * d6 * p_var_x[v3] + d7 * d7 * p_var_y[v3]
             + d8 * d8 * p_var_z[v3] + 2 * d6 * d7 * p_cov_xy[v3]
             + 2 * d6 * d8 * p_cov_xz[v3] + 2 * d7 * d8 * p_cov_yz[v3];
        var_out[i] = acc;
        found_out[i] = 1;
    }
    free(scratch);
    return 0;
}
