/* Bowyer-Watson insertion core — exact C port of the NumPy loop in
 * delaunay.py (same insertion order, same float expression order, same
 * tie handling, same slot-reuse discipline), so the emitted triangle
 * array is BIT-IDENTICAL to the pure-NumPy path; the Python wrapper
 * asserts nothing semantically new. Compile WITHOUT fp contraction or
 * fast-math (see _delaunay_cc.py) — an FMA would change rounding and
 * break the twin property.
 *
 * Why it exists: the NumPy loop pays ~40 us of interpreter/temporary
 * overhead per insertion, and its per-insertion full-range temporaries
 * (dx, dy arrays over every live slot) stream DRAM; at 32 concurrent
 * executor kernels the build is memory-bandwidth-bound (round-4/5
 * finding). This port does the cavity bookkeeping in plain C.
 *
 * Candidate search. The NumPy loop tests every live slot per point
 * (O(n * m) per cell). Here a uniform bucket grid over the points
 * indexes the live circumcircles: each new triangle is registered in
 * every bucket its circle's bbox covers (radius padded by 1e-6
 * relative, far above the few-ulp error of the in-circle test), or on
 * one short "big" list when that bbox covers more than BIG_SPAN
 * buckets (the early and the super-vertex triangles). A point tests
 * only its own bucket's entries plus the big list, with the SAME
 * predicate (ccx-px)^2 + (ccy-py)^2 < rr. Every triangle whose test can
 * pass covers the point's bucket (float subtraction, scaling by a
 * positive step and floor are all monotone, and both sides clamp to
 * the grid the same way), so the candidates hold the full scan's bad
 * set. Each triangle sits in a list at most once per generation, so
 * the candidates carry no duplicates; an entry goes stale when its
 * slot dies or is reused (per-slot generation counter) and is unlinked
 * lazily the next time its list is walked. The bad set is then sorted
 * by ascending slot — the full scan's order — so the cavity pass, the
 * free-slot stack and hence every later insertion see exactly what the
 * NumPy loop sees.
 *
 * rr fast path. The twin's circumradius is libm pow(a, 2) + pow(b, 2)
 * (see below); a*a + b*b is at most a few ulps away. Slots store the
 * product form and the in-circle test recomputes the pow form only when
 * the distance lands within 1e-13 relative of it — so every comparison
 * still resolves against the pow value. Slot 0 (the wrapper's
 * super-triangle) keeps the wrapper's rr until the slot is reused.
 *
 * Layout contract with the wrapper (all buffers allocated by caller;
 * the grid and its entry pool are allocated here and freed on return):
 *   pts[2*i], pts[2*i+1]   centered input points (n rows)
 *   allp                   pts + 3 super-triangle rows (n+3 rows)
 *   order[n]               insertion order (argsort twin of the NumPy path)
 *   tri[3*cap], ccx[cap], ccy[cap], rr[cap], alive[cap]
 *   returns hi (slots used), -1 when cap was too small (caller grows
 *   cap exactly like np.resize doubling and retries from scratch), or
 *   -2 when the grid could not be allocated or n exceeds 2^24 (caller
 *   falls back to the NumPy loop).
 */

#include <math.h>
#include <stdint.h>
#include <stdlib.h>

#define BIG_SPAN 64          /* buckets a circle may cover before "big" */
#define PTS_PER_BUCKET 4.0
#define RR_NEAR 1e-13        /* relative band that recomputes the pow rr */

typedef struct {
    int32_t slot;
    uint32_t gen;
    int32_t next;
} entry_t;

typedef struct {
    entry_t *pool;
    int32_t n_pool, cap_pool, free_head;
    int32_t *head;           /* per bucket; index nb is the big list */
    uint32_t *gen;           /* per slot */
    int64_t nx, ny;
    double x0, y0, inv;      /* bucket = floor((x - x0) * inv) */
} grid_t;

static int push(grid_t *g, int32_t list, int32_t slot)
{
    int32_t e = g->free_head;
    if (e >= 0) {
        g->free_head = g->pool[e].next;
    } else {
        if (g->n_pool == g->cap_pool) {
            int32_t nc = g->cap_pool * 2;
            entry_t *np = realloc(g->pool, (size_t)nc * sizeof(entry_t));
            if (np == NULL)
                return -1;
            g->pool = np;
            g->cap_pool = nc;
        }
        e = g->n_pool++;
    }
    g->pool[e].slot = slot;
    g->pool[e].gen = g->gen[slot];
    g->pool[e].next = g->head[list];
    g->head[list] = e;
    return 0;
}

/* clamp one scaled coordinate to a bucket index; NaN goes to 0 */
static int64_t bucket_of(double f, int64_t nb)
{
    if (!(f >= 0.0))
        return 0;
    if (!(f < (double)nb))
        return nb - 1;
    return (int64_t)f;
}

static int add_circle(grid_t *g, int32_t slot, double cx, double cy,
                      double rr2)
{
    const int32_t big = (int32_t)(g->nx * g->ny);
    const double r = sqrt(rr2) * (1.0 + 1e-6);
    const double fx0 = floor((cx - r - g->x0) * g->inv);
    const double fx1 = floor((cx + r - g->x0) * g->inv);
    const double fy0 = floor((cy - r - g->y0) * g->inv);
    const double fy1 = floor((cy + r - g->y0) * g->inv);
    /* NaN/inf circles and wide spans go on the big list */
    if (!(fx1 - fx0 < BIG_SPAN && fy1 - fy0 < BIG_SPAN))
        return push(g, big, slot);
    const int64_t bx0 = bucket_of(fx0, g->nx), bx1 = bucket_of(fx1, g->nx);
    const int64_t by0 = bucket_of(fy0, g->ny), by1 = bucket_of(fy1, g->ny);
    if ((bx1 - bx0 + 1) * (by1 - by0 + 1) > BIG_SPAN)
        return push(g, big, slot);
    for (int64_t by = by0; by <= by1; by++)
        for (int64_t bx = bx0; bx <= bx1; bx++)
            if (push(g, (int32_t)(by * g->nx + bx), slot))
                return -1;
    return 0;
}

int64_t gpiv_delaunay_core(const double *pts, const double *allp,
                           const int64_t *order, int64_t n,
                           int64_t *tri, double *ccx, double *ccy,
                           double *rr, uint8_t *alive, int64_t cap,
                           int64_t *free_stack, int64_t *bad_buf,
                           int64_t *edge_buf)
{
    int64_t hi = 1;      /* slot 0 = super-triangle, set by wrapper */
    int64_t n_free = 0;
    int64_t ret = -2;
    int super_live = 1;  /* slot 0 still holds the wrapper's rr */

    if (n > (1 << 24))   /* entry and slot indices are int32 */
        return -2;

    /* bucket grid over the points' bbox, ~PTS_PER_BUCKET per bucket */
    grid_t g = {0};
    double xmin = INFINITY, xmax = -INFINITY;
    double ymin = INFINITY, ymax = -INFINITY;
    for (int64_t i = 0; i < n; i++) {
        const double x = pts[2 * i], y = pts[2 * i + 1];
        if (x < xmin) xmin = x;
        if (x > xmax) xmax = x;
        if (y < ymin) ymin = y;
        if (y > ymax) ymax = y;
    }
    const double w = xmax - xmin, h = ymax - ymin;
    const double target = (double)n / PTS_PER_BUCKET + 1.0;
    /* square buckets, ~target of them; a thin or flat bbox still gets
     * at most ~target along its long side */
    double step = sqrt(w * h / target);
    if (!(step >= (w > h ? w : h) / target))
        step = (w > h ? w : h) / target;
    g.nx = g.ny = 1;
    g.inv = 0.0;
    if (step > 0.0 && isfinite(step)) {
        g.inv = 1.0 / step;
        g.nx = (int64_t)fmin(floor(w * g.inv) + 1.0, target);
        g.ny = (int64_t)fmin(floor(h * g.inv) + 1.0, target);
    }
    g.x0 = isfinite(xmin) ? xmin : 0.0;
    g.y0 = isfinite(ymin) ? ymin : 0.0;
    const int64_t nb = g.nx * g.ny;
    g.cap_pool = (int32_t)(16 * n + 64);
    g.pool = malloc((size_t)g.cap_pool * sizeof(entry_t));
    g.head = malloc((size_t)(nb + 1) * sizeof(int32_t));
    g.gen = calloc((size_t)cap, sizeof(uint32_t));
    g.free_head = -1;
    if (g.pool == NULL || g.head == NULL || g.gen == NULL)
        goto done;
    for (int64_t b = 0; b <= nb; b++)
        g.head[b] = -1;
    if (add_circle(&g, 0, ccx[0], ccy[0], rr[0]))
        goto done;

    for (int64_t oi = 0; oi < n; oi++) {
        const int64_t i = order[oi];
        const double px = pts[2 * i];
        const double py = pts[2 * i + 1];
        const int64_t bx = bucket_of(floor((px - g.x0) * g.inv), g.nx);
        const int64_t by = bucket_of(floor((py - g.y0) * g.inv), g.ny);
        const int32_t lists[2] = {(int32_t)(by * g.nx + bx), (int32_t)nb};

        /* candidates: the point's bucket plus the big list, stale
         * entries unlinked on the way; same in-circle predicate */
        int64_t n_bad = 0;
        for (int li = 0; li < 2; li++) {
            int32_t *link = &g.head[lists[li]];
            while (*link >= 0) {
                entry_t *en = &g.pool[*link];
                const int32_t t = en->slot;
                if (!alive[t] || g.gen[t] != en->gen) {
                    const int32_t dead = *link;
                    *link = en->next;
                    en->next = g.free_head;
                    g.free_head = dead;
                    continue;
                }
                link = &en->next;
                double dx = ccx[t] - px;
                dx *= dx;
                double dy = ccy[t] - py;
                dy *= dy;
                dx += dy;
                double rt = rr[t];
                if (fabs(dx - rt) <= rt * RR_NEAR && !(t == 0 && super_live)) {
                    const int64_t v = tri[3 * t];
                    rt = pow(allp[2 * v] - ccx[t], 2.0)
                         + pow(allp[2 * v + 1] - ccy[t], 2.0);
                }
                if (dx < rt)
                    bad_buf[n_bad++] = t;
            }
        }
        if (n_bad == 0)
            continue;   /* on/outside all circumcircles (duplicate) */
        /* full-scan order: ascending slot (insertion sort, n_bad ~4-8) */
        for (int64_t b = 1; b < n_bad; b++) {
            const int64_t v = bad_buf[b];
            int64_t k = b;
            while (k > 0 && bad_buf[k - 1] > v) {
                bad_buf[k] = bad_buf[k - 1];
                k--;
            }
            bad_buf[k] = v;
        }

        /* boundary polygon: edges used exactly once among bad tris.
         * edge_buf rows: [lo, hi, ori0, ori1, dead] in encounter order —
         * mirrors the Python dict's insertion-ordered semantics. */
        int64_t n_edges = 0;
        for (int64_t b = 0; b < n_bad; b++) {
            const int64_t bi = bad_buf[b];
            const int64_t a = tri[3 * bi];
            const int64_t bb = tri[3 * bi + 1];
            const int64_t c = tri[3 * bi + 2];
            const int64_t es[3][2] = {{a, bb}, {bb, c}, {c, a}};
            for (int e = 0; e < 3; e++) {
                const int64_t e0 = es[e][0];
                const int64_t e1 = es[e][1];
                const int64_t klo = e0 < e1 ? e0 : e1;
                const int64_t khi = e0 < e1 ? e1 : e0;
                int found = 0;
                for (int64_t k = 0; k < n_edges; k++) {
                    if (edge_buf[5 * k] == klo && edge_buf[5 * k + 1] == khi) {
                        edge_buf[5 * k + 4] = 1;   /* second use: dead */
                        found = 1;
                        break;
                    }
                }
                if (!found) {
                    edge_buf[5 * n_edges] = klo;
                    edge_buf[5 * n_edges + 1] = khi;
                    edge_buf[5 * n_edges + 2] = e0;
                    edge_buf[5 * n_edges + 3] = e1;
                    edge_buf[5 * n_edges + 4] = 0;
                    n_edges++;
                }
            }
            alive[bi] = 0;
            free_stack[n_free++] = bi;
        }

        /* new fan: one triangle per boundary edge, slots reused LIFO */
        for (int64_t k = 0; k < n_edges; k++) {
            if (edge_buf[5 * k + 4])
                continue;
            int64_t slot;
            if (n_free > 0)
                slot = free_stack[--n_free];
            else {
                slot = hi++;
                if (hi > cap) {
                    ret = -1;   /* caller grows + retries */
                    goto done;
                }
            }
            if (slot == 0)
                super_live = 0;
            const int64_t t0 = edge_buf[5 * k + 2];
            const int64_t t1 = edge_buf[5 * k + 3];
            tri[3 * slot] = t0;
            tri[3 * slot + 1] = t1;
            tri[3 * slot + 2] = i;

            /* circumcircle, scalar math in the wrapper's expression
             * order (delaunay.py lines 114-132) */
            const double ax = allp[2 * t0];
            const double ay = allp[2 * t0 + 1];
            const double bx = allp[2 * t1];
            const double by = allp[2 * t1 + 1];
            const double cx2 = allp[2 * i];
            const double cy2 = allp[2 * i + 1];
            double d = 2.0 * ((bx - ax) * (cy2 - ay) - (by - ay) * (cx2 - ax));
            if (-1e-300 < d && d < 1e-300)
                d = 1e-300;
            const double a2 = ax * ax + ay * ay;
            const double b2 = bx * bx + by * by;
            const double c2 = cx2 * cx2 + cy2 * cy2;
            const double ux = (a2 * (by - cy2) + b2 * (cy2 - ay) + c2 * (ay - by)) / d;
            const double uy = (a2 * (cx2 - bx) + b2 * (ax - cx2) + c2 * (bx - ax)) / d;
            ccx[slot] = ux;
            ccy[slot] = uy;
            /* The twin's rr is (ax-ux) ** 2 + (ay-uy) ** 2, and CPython's
             * float power is libm pow, which differs from the multiply
             * by 1 ulp on ~0.1% of inputs (measured) — enough to flip a
             * duplicate point's on-circle test. The product form stored
             * here is only a prefilter: the test above recomputes the
             * pow form whenever the two could disagree. */
            const double ra = ax - ux;
            const double rb = ay - uy;
            rr[slot] = ra * ra + rb * rb;
            alive[slot] = 1;
            g.gen[slot]++;
            if (add_circle(&g, (int32_t)slot, ux, uy, rr[slot]))
                goto done;
        }
    }
    ret = hi;
done:
    free(g.pool);
    free(g.head);
    free(g.gen);
    return ret;
}
