/* Compiled hot loops for the arithmetic-coded image codecs.
 *
 * This is a C re-expression of the per-decision inner loops of our own
 * Python kernels — `kernels/jp2codec.py::_mq_decode_fn` / `t1_decode`
 * and `kernels/jbig2codec.py::_decode_generic` / `_decode_refinement` —
 * NOT of any external codec.  Decision-for-decision it follows the same
 * walk the Python code documents (the Python path remains the oracle:
 * tests assert bit-identical output on fuzzed round-trips and on every
 * pinned fixture).  The reference project ships compiled Cython kernels
 * for exactly this reason (cython/sauvola.pyx, cython/optimize_gray.pyx);
 * this file plays the same role for the decode side.
 *
 * No probability/state tables live here: the MQ-coder state machine
 * (Qe/NMPS/NLPS/SWITCH), the T1 context LUTs and the JBIG2 template
 * pixel lists are all owned by the Python modules and passed in as
 * arrays, so there is a single source of truth.
 *
 * Every entry point returns 0 on success and a nonzero error code on
 * anything unexpected; callers fall back to the Python path so error
 * behaviour (exceptions) stays byte-for-byte the Python kernels'.
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define EXPORT __attribute__((visibility("default")))

/* ------------------------------------------------------------------ MQ */

static uint16_t g_qe[64];
static uint8_t g_nmps[64], g_nlps[64], g_sw[64];

EXPORT void apts_set_mq_tables(const uint16_t *qe, const uint8_t *nmps,
                               const uint8_t *nlps, const uint8_t *sw,
                               int32_t n) {
    if (n > 64) n = 64;
    memcpy(g_qe, qe, (size_t)n * sizeof(uint16_t));
    memcpy(g_nmps, nmps, (size_t)n);
    memcpy(g_nlps, nlps, (size_t)n);
    memcpy(g_sw, sw, (size_t)n);
}

typedef struct {
    const uint8_t *data;
    int64_t n;
    int64_t bp;
    uint32_t c;
    int32_t a;
    int32_t ct;
} MQ;

/* INITDEC (mirrors jp2codec._mq_decode_fn's closure prologue). */
static void mq_start(MQ *mq) {
    const uint8_t *d = mq->data;
    int64_t n = mq->n;
    int64_t bp = 0;
    uint8_t b = n ? d[0] : 0xFF;
    uint32_t c = (uint32_t)b << 16;
    int ct;
    if (b == 0xFF) {
        uint8_t b1 = n > 1 ? d[1] : 0xFF;
        if (b1 > 0x8F) {
            c += 0xFF00;
            ct = 8;
        } else {
            bp = 1;
            c += (uint32_t)b1 << 9;
            ct = 7;
        }
    } else {
        bp = 1;
        c += (uint32_t)(n > 1 ? d[1] : 0xFF) << 8;
        ct = 8;
    }
    mq->c = c << 7;
    mq->ct = ct - 7;
    mq->bp = bp;
    mq->a = 0x8000;
}

/* DECODE with RENORMD+BYTEIN inlined (mirrors the Python closure). */
static inline int mq_decode(MQ *mq, uint8_t *states, uint8_t *mps,
                            uint32_t ctx) {
    int i = states[ctx];
    uint32_t qe = g_qe[i];
    int d;
    mq->a -= (int32_t)qe;
    if ((mq->c >> 16) < qe) {
        if ((uint32_t)mq->a < qe) {
            d = mps[ctx];
            states[ctx] = g_nmps[i];
        } else {
            d = 1 - mps[ctx];
            if (g_sw[i]) mps[ctx] = (uint8_t)d;
            states[ctx] = g_nlps[i];
        }
        mq->a = (int32_t)qe;
    } else {
        mq->c -= qe << 16;
        if (mq->a & 0x8000) return mps[ctx];
        if ((uint32_t)mq->a < qe) {
            d = 1 - mps[ctx];
            if (g_sw[i]) mps[ctx] = (uint8_t)d;
            states[ctx] = g_nlps[i];
        } else {
            d = mps[ctx];
            states[ctx] = g_nmps[i];
        }
    }
    do {
        if (mq->ct == 0) {
            uint8_t b = mq->bp < mq->n ? mq->data[mq->bp] : 0xFF;
            if (b == 0xFF) {
                uint8_t b1 =
                    mq->bp + 1 < mq->n ? mq->data[mq->bp + 1] : 0xFF;
                if (b1 > 0x8F) {
                    mq->c += 0xFF00;
                    mq->ct = 8;
                } else {
                    mq->bp += 1;
                    mq->c += (uint32_t)b1 << 9;
                    mq->ct = 7;
                }
            } else {
                mq->bp += 1;
                mq->c += (uint32_t)(mq->bp < mq->n ? mq->data[mq->bp]
                                                   : 0xFF)
                         << 8;
                mq->ct = 8;
            }
        }
        mq->a = (mq->a << 1) & 0xFFFF;
        mq->c = mq->c << 1;
        mq->ct -= 1;
    } while (!(mq->a & 0x8000));
    return d;
}

static void mq_load(MQ *mq, const uint8_t *data, int64_t n,
                    const int64_t *regs) {
    mq->data = data;
    mq->n = n;
    mq->a = (int32_t)regs[0];
    mq->c = (uint32_t)regs[1];
    mq->ct = (int32_t)regs[2];
    mq->bp = regs[3];
}

static void mq_store(const MQ *mq, int64_t *regs) {
    regs[0] = mq->a;
    regs[1] = (int64_t)mq->c;
    regs[2] = mq->ct;
    regs[3] = mq->bp;
}

/* --------------------------------------------- JBIG2 generic region
 *
 * General-template walk (mirrors jbig2codec._decode_generic's general
 * path, which the nominal fast path is an optimisation of): per pixel,
 * gather the (dy, dx)-sorted template pixels MSB-first from the bitmap
 * under construction; out-of-bounds reads are 0.  `regs`/`started`
 * carry the MQ session so multi-region segments (halftone bitplanes)
 * share one coder.
 */
EXPORT int apts_jb2_generic(const uint8_t *data, int64_t n, int64_t *regs,
                            int32_t started, uint8_t *states, uint8_t *mps,
                            int32_t w, int32_t h, const int8_t *pix,
                            int32_t npix, int32_t tpgdon, int32_t tp_ctx,
                            const uint8_t *skip, uint8_t *out) {
    MQ mq;
    int ltp = 0;
    int32_t y, x, t;
    if (w <= 0 || h <= 0 || npix <= 0 || npix > 16) return 3;
    mq_load(&mq, data, n, regs);
    if (!started) mq_start(&mq);
    for (y = 0; y < h; y++) {
        uint8_t *row = out + (int64_t)y * w;
        if (tpgdon) {
            ltp ^= mq_decode(&mq, states, mps, (uint32_t)tp_ctx);
            if (ltp) {
                if (y) memcpy(row, row - w, (size_t)w);
                continue;
            }
        }
        for (x = 0; x < w; x++) {
            uint32_t ctx = 0;
            int bit;
            if (skip && skip[(int64_t)y * w + x]) {
                row[x] = 0;
                continue;
            }
            for (t = 0; t < npix; t++) {
                int32_t yy = y + pix[2 * t];
                int32_t xx = x + pix[2 * t + 1];
                int v = (yy >= 0 && yy < h && xx >= 0 && xx < w)
                            ? out[(int64_t)yy * w + xx]
                            : 0;
                ctx = (ctx << 1) | (uint32_t)v;
            }
            bit = mq_decode(&mq, states, mps, ctx);
            row[x] = (uint8_t)bit;
        }
    }
    mq_store(&mq, regs);
    return 0;
}

/* ------------------------------------------ JBIG2 refinement region
 *
 * Mirrors jbig2codec._decode_refinement: context = coding pixels over
 * the output (bounds-checked against h, w) then reference pixels over
 * `ref` at (y - dy + dy', x - dx + dx') (bounds-checked against rh,
 * rw); TPGRON typicality reads the 3x3 reference window.
 */
EXPORT int apts_jb2_refine(const uint8_t *data, int64_t n, int64_t *regs,
                           int32_t started, uint8_t *states, uint8_t *mps,
                           int32_t w, int32_t h, const int8_t *coding,
                           int32_t ncoding, const int8_t *refpix,
                           int32_t nref, const uint8_t *ref, int32_t rh,
                           int32_t rw, int32_t dx, int32_t dy,
                           int32_t tpgron, int32_t tp_ctx, int32_t base,
                           uint8_t *out) {
    MQ mq;
    int ltp = 0;
    int32_t y, x, t;
    if (w <= 0 || h <= 0 || ncoding <= 0 || ncoding > 8 || nref <= 0 ||
        nref > 9)
        return 3;
    mq_load(&mq, data, n, regs);
    if (!started) mq_start(&mq);
    for (y = 0; y < h; y++) {
        uint8_t *row = out + (int64_t)y * w;
        if (tpgron) ltp ^= mq_decode(&mq, states, mps, (uint32_t)tp_ctx);
        for (x = 0; x < w; x++) {
            uint32_t ctx = 0;
            if (ltp) {
                /* typicality: count of set pixels in the in-bounds part
                 * of the 3x3 reference window centred at (ry, rx) */
                int32_t ry = y - dy, rx = x - dx;
                int total = 0, yy, xx;
                for (yy = ry - 1; yy <= ry + 1; yy++)
                    if (yy >= 0 && yy < rh)
                        for (xx = rx - 1; xx <= rx + 1; xx++)
                            if (xx >= 0 && xx < rw &&
                                ref[(int64_t)yy * rw + xx])
                                total++;
                if (total == 0) {
                    row[x] = 0;
                    continue;
                }
                if (total == 9) {
                    row[x] = 1;
                    continue;
                }
            }
            for (t = 0; t < ncoding; t++) {
                int32_t yy = y + coding[2 * t];
                int32_t xx = x + coding[2 * t + 1];
                int v = (yy >= 0 && yy < h && xx >= 0 && xx < w)
                            ? out[(int64_t)yy * w + xx]
                            : 0;
                ctx = (ctx << 1) | (uint32_t)v;
            }
            for (t = 0; t < nref; t++) {
                int32_t yy = y - dy + refpix[2 * t];
                int32_t xx = x - dx + refpix[2 * t + 1];
                int v = (yy >= 0 && yy < rh && xx >= 0 && xx < rw)
                            ? ref[(int64_t)yy * rw + xx]
                            : 0;
                ctx = (ctx << 1) | (uint32_t)v;
            }
            row[x] = (uint8_t)mq_decode(&mq, states, mps,
                                        (uint32_t)base + ctx);
        }
    }
    mq_store(&mq, regs);
    return 0;
}

/* ------------------------------------------------------ JPEG2000 T1
 *
 * Plain spec-walk port of jp2codec.t1_decode (whose vectorised
 * candidate/heap structure is documented decision-for-decision
 * identical to this walk).  Flag-word layout and context tables come
 * from the Python module.
 */

#define F_SIG 256
#define F_VISIT 512
#define F_REF 1024
#define NB_MASK 0xFF
/* neighbour bits (same layout as jp2codec): W=1 E=2 N=4 S=8
 * NW=16 NE=32 SW=64 SE=128; sign bits WNEG=2048 ENEG=4096 NNEG=8192
 * SNEG=16384 */

typedef struct {
    int32_t *f;      /* (w+2) * (h+2) flag words */
    uint32_t *mag;
    uint8_t *neg;
    int32_t w, h, stride;
    const uint8_t *zc;      /* 256 */
    const uint8_t *sc_ctx;  /* 256 */
    const uint8_t *sc_xor;  /* 256 */
    uint8_t *states;        /* n_ctx */
    uint8_t *mps;
    int32_t ctx_run, ctx_uni;
    MQ mq;
    /* raw (bypass) bit reader */
    const uint8_t *rd;
    int64_t rn_;
    int64_t rbyte;
    int32_t rbit;
} T1;

static inline void t1_set_sig(int32_t *f, int32_t s, int64_t i,
                              int neg) {
    f[i] |= F_SIG;
    if (neg) {
        f[i - 1] |= 2 | 4096;      /* E | ENEG */
        f[i + 1] |= 1 | 2048;      /* W | WNEG */
        f[i - s] |= 8 | 16384;     /* S | SNEG */
        f[i + s] |= 4 | 8192;      /* N | NNEG */
    } else {
        f[i - 1] |= 2;
        f[i + 1] |= 1;
        f[i - s] |= 8;
        f[i + s] |= 4;
    }
    f[i - s - 1] |= 128; /* SE */
    f[i - s + 1] |= 64;  /* SW */
    f[i + s - 1] |= 32;  /* NE */
    f[i + s + 1] |= 16;  /* NW */
}

/* Load a raw codeword segment; validate the B.10.1 stuffing rule for
 * the whole segment up front (mirrors load_raw's eager check). */
static int t1_load_raw(T1 *t, const uint8_t *d, int64_t n) {
    int64_t i;
    for (i = 1; i < n; i++)
        if (d[i - 1] == 0xFF && (d[i] & 0x80)) return 1;
    t->rd = d;
    t->rn_ = n;
    t->rbyte = 0;
    t->rbit = 0;
    return 0;
}

/* Read one raw bit; *err set on overrun (Python would IndexError). */
static inline int t1_raw_bit(T1 *t, int *err) {
    int bit;
    if (t->rbyte >= t->rn_) {
        *err = 1;
        return 0;
    }
    bit = (t->rd[t->rbyte] >> (7 - t->rbit)) & 1;
    t->rbit++;
    if (t->rbit == 8) {
        t->rbyte++;
        t->rbit = (t->rbyte < t->rn_ && t->rd[t->rbyte - 1] == 0xFF) ? 1
                                                                     : 0;
        /* after 0xFF the next byte's MSB is the (already validated)
         * stuffed 0 — skip it, as load_raw's keep-mask does */
    }
    return bit;
}

static void t1_spp(T1 *t, int p) {
    uint32_t bit = 1u << p;
    int32_t w = t->w, h = t->h, s = t->stride;
    int32_t y0, x, k;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        for (x = 0; x < w; x++) {
            for (k = 0; k < rows; k++) {
                int64_t i = (int64_t)(y0 + 1 + k) * s + x + 1;
                int32_t fl = t->f[i];
                int d, sg;
                uint32_t key;
                if (fl & (F_SIG | F_VISIT)) continue;
                if (!(fl & NB_MASK)) continue;
                t->f[i] = fl | F_VISIT;
                d = mq_decode(&t->mq, t->states, t->mps,
                              t->zc[fl & NB_MASK]);
                if (!d) continue;
                key = (uint32_t)((fl & 0xF) | ((fl >> 7) & 0xF0));
                d = mq_decode(&t->mq, t->states, t->mps, t->sc_ctx[key]);
                sg = d ^ t->sc_xor[key];
                t1_set_sig(t->f, t->stride, i, sg);
                {
                    int64_t j = (int64_t)(y0 + k) * w + x;
                    t->mag[j] |= bit;
                    t->neg[j] = (uint8_t)sg;
                }
            }
        }
    }
}

static int t1_spp_raw(T1 *t, int p) {
    uint32_t bit = 1u << p;
    int32_t w = t->w, h = t->h, s = t->stride;
    int32_t y0, x, k;
    int err = 0;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        for (x = 0; x < w; x++) {
            for (k = 0; k < rows; k++) {
                int64_t i = (int64_t)(y0 + 1 + k) * s + x + 1;
                int32_t fl = t->f[i];
                int sg;
                if (fl & (F_SIG | F_VISIT)) continue;
                if (!(fl & NB_MASK)) continue;
                t->f[i] = fl | F_VISIT;
                if (!t1_raw_bit(t, &err)) {
                    if (err) return 1;
                    continue;
                }
                sg = t1_raw_bit(t, &err); /* raw sign: no ctx, no XOR */
                if (err) return 1;
                t1_set_sig(t->f, t->stride, i, sg);
                {
                    int64_t j = (int64_t)(y0 + k) * w + x;
                    t->mag[j] |= bit;
                    t->neg[j] = (uint8_t)sg;
                }
            }
        }
    }
    return 0;
}

static void t1_mrp(T1 *t, int p) {
    uint32_t bit = 1u << p;
    int32_t w = t->w, h = t->h, s = t->stride;
    int32_t y0, x, k;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        for (x = 0; x < w; x++) {
            for (k = 0; k < rows; k++) {
                int64_t i = (int64_t)(y0 + 1 + k) * s + x + 1;
                int32_t fl = t->f[i];
                uint32_t ctx;
                if (!(fl & F_SIG) || (fl & F_VISIT)) continue;
                ctx = (fl & F_REF) ? (uint32_t)16
                                   : ((fl & NB_MASK) ? 15u : 14u);
                if (mq_decode(&t->mq, t->states, t->mps, ctx))
                    t->mag[(int64_t)(y0 + k) * w + x] |= bit;
                t->f[i] = fl | F_REF;
            }
        }
    }
}

static int t1_mrp_raw(T1 *t, int p) {
    uint32_t bit = 1u << p;
    int32_t w = t->w, h = t->h, s = t->stride;
    int32_t y0, x, k;
    int err = 0;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        for (x = 0; x < w; x++) {
            for (k = 0; k < rows; k++) {
                int64_t i = (int64_t)(y0 + 1 + k) * s + x + 1;
                int32_t fl = t->f[i];
                if (!(fl & F_SIG) || (fl & F_VISIT)) continue;
                if (t1_raw_bit(t, &err))
                    t->mag[(int64_t)(y0 + k) * w + x] |= bit;
                if (err) return 1;
                t->f[i] = fl | F_REF;
            }
        }
    }
    return 0;
}

static void t1_cup(T1 *t, int p) {
    uint32_t bit = 1u << p;
    int32_t w = t->w, h = t->h, s = t->stride;
    int32_t y0, x, k;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        int full = rows == 4;
        int64_t i0 = (int64_t)(y0 + 1) * s + 1;
        int64_t j0 = (int64_t)y0 * w;
        for (x = 0; x < w; x++) {
            int32_t kstart = 0;
            if (full &&
                !((t->f[i0] | t->f[i0 + s] | t->f[i0 + 2 * s] |
                   t->f[i0 + 3 * s]) &
                  (NB_MASK | F_SIG | F_VISIT))) {
                int d = mq_decode(&t->mq, t->states, t->mps,
                                  (uint32_t)t->ctx_run);
                int first;
                if (!d) {
                    i0 += 1;
                    j0 += 1;
                    continue;
                }
                first = mq_decode(&t->mq, t->states, t->mps,
                                  (uint32_t)t->ctx_uni);
                first = (first << 1) | mq_decode(&t->mq, t->states,
                                                 t->mps,
                                                 (uint32_t)t->ctx_uni);
                {
                    int64_t i = i0 + (int64_t)first * s;
                    int64_t j = j0 + (int64_t)first * w;
                    int32_t fl = t->f[i];
                    uint32_t key =
                        (uint32_t)((fl & 0xF) | ((fl >> 7) & 0xF0));
                    int sg = mq_decode(&t->mq, t->states, t->mps,
                                       t->sc_ctx[key]) ^
                             t->sc_xor[key];
                    t1_set_sig(t->f, t->stride, i, sg);
                    t->mag[j] |= bit;
                    t->neg[j] = (uint8_t)sg;
                }
                kstart = first + 1;
            }
            for (k = kstart; k < rows; k++) {
                int64_t i = i0 + (int64_t)k * s;
                int32_t fl = t->f[i];
                int d, sg;
                uint32_t key;
                if (fl & F_VISIT) {
                    t->f[i] = fl & ~F_VISIT;
                    continue;
                }
                if (fl & F_SIG) continue;
                d = mq_decode(&t->mq, t->states, t->mps,
                              t->zc[fl & NB_MASK]);
                if (!d) continue;
                key = (uint32_t)((fl & 0xF) | ((fl >> 7) & 0xF0));
                sg = mq_decode(&t->mq, t->states, t->mps,
                               t->sc_ctx[key]) ^
                     t->sc_xor[key];
                t1_set_sig(t->f, t->stride, i, sg);
                {
                    int64_t j = j0 + (int64_t)k * w;
                    t->mag[j] |= bit;
                    t->neg[j] = (uint8_t)sg;
                }
            }
            i0 += 1;
            j0 += 1;
        }
    }
}

/* Codeword-segment index of 1-based pass tt under the bypass schedule
 * (mirrors jp2codec._seg_id_bypass). */
static int t1_seg_id(int tt) {
    int k;
    if (tt <= 10) return 0;
    k = tt - 11;
    return 1 + (k / 3) * 2 + (k % 3 == 2 ? 1 : 0);
}

/* segoff: nseg+1 offsets into segbuf (segment i = [segoff[i],
 * segoff[i+1])).  bypass=0 means one plain MQ codeword (nseg==1). */
EXPORT int apts_t1_decode(const uint8_t *segbuf, const int64_t *segoff,
                          int32_t nseg, int32_t bypass, int32_t npasses,
                          int32_t numbps, int32_t w, int32_t h,
                          const uint8_t *zc, const uint8_t *sc_ctx,
                          const uint8_t *sc_xor,
                          const uint8_t *init_states, int32_t n_ctx,
                          int32_t ctx_run, int32_t ctx_uni,
                          int32_t *out) {
    T1 t;
    int32_t stride = w + 2;
    int64_t fsz = (int64_t)stride * (h + 2);
    int64_t wh = (int64_t)w * h, j;
    int rc = 0;
    uint8_t states[64], mps[64];
    if (w <= 0 || h <= 0 || numbps < 1 || numbps > 31 || n_ctx > 64)
        return 3;
    t.f = (int32_t *)calloc((size_t)fsz, sizeof(int32_t));
    t.mag = (uint32_t *)calloc((size_t)wh, sizeof(uint32_t));
    t.neg = (uint8_t *)calloc((size_t)wh, 1);
    if (!t.f || !t.mag || !t.neg) {
        free(t.f);
        free(t.mag);
        free(t.neg);
        return 4;
    }
    t.w = w;
    t.h = h;
    t.stride = stride;
    t.zc = zc;
    t.sc_ctx = sc_ctx;
    t.sc_xor = sc_xor;
    memcpy(states, init_states, (size_t)n_ctx);
    memset(mps, 0, (size_t)n_ctx);
    t.states = states;
    t.mps = mps;
    t.ctx_run = ctx_run;
    t.ctx_uni = ctx_uni;
    t.rd = NULL;
    t.rn_ = 0;
    t.rbyte = 0;
    t.rbit = 0;

    if (!bypass) {
        int left = npasses, p = numbps - 1;
        t.mq.data = segbuf + segoff[0];
        t.mq.n = segoff[1] - segoff[0];
        mq_start(&t.mq);
        if (left > 0) {
            t1_cup(&t, p);
            left--;
        }
        while (left > 0 && p > 0) {
            p--;
            t1_spp(&t, p);
            left--;
            if (left > 0) {
                t1_mrp(&t, p);
                left--;
            }
            if (left > 0) {
                t1_cup(&t, p);
                left--;
            }
        }
    } else {
        int cur_sid = 0, tt;
        t.mq.data = nseg ? segbuf + segoff[0] : segbuf;
        t.mq.n = nseg ? segoff[1] - segoff[0] : 0;
        mq_start(&t.mq);
        for (tt = 1; tt <= npasses; tt++) {
            int p, kind, sid, raw;
            if (tt == 1) {
                p = numbps - 1;
                kind = 2;
            } else {
                int trip = (tt - 2) / 3;
                kind = (tt - 2) % 3;
                p = numbps - 2 - trip;
            }
            if (p < 0) break;
            sid = t1_seg_id(tt);
            if (sid != cur_sid) {
                if (sid >= nseg) {
                    rc = 2;
                    goto done;
                }
                if (sid % 2) {
                    if (t1_load_raw(&t, segbuf + segoff[sid],
                                    segoff[sid + 1] - segoff[sid])) {
                        rc = 1;
                        goto done;
                    }
                } else {
                    t.mq.data = segbuf + segoff[sid];
                    t.mq.n = segoff[sid + 1] - segoff[sid];
                    mq_start(&t.mq);
                }
                cur_sid = sid;
            }
            raw = cur_sid % 2 == 1;
            if (kind == 0) {
                if (raw) {
                    if (t1_spp_raw(&t, p)) {
                        rc = 1;
                        goto done;
                    }
                } else
                    t1_spp(&t, p);
            } else if (kind == 1) {
                if (raw) {
                    if (t1_mrp_raw(&t, p)) {
                        rc = 1;
                        goto done;
                    }
                } else
                    t1_mrp(&t, p);
            } else
                t1_cup(&t, p);
        }
    }
    for (j = 0; j < wh; j++)
        out[j] = t.neg[j] ? -(int32_t)t.mag[j] : (int32_t)t.mag[j];
done:
    free(t.f);
    free(t.mag);
    free(t.neg);
    return rc;
}

/* ------------------------------------------------------ MQ encoder
 *
 * Mirrors jp2codec._mq_encode_fns (software conventions, carry into
 * the emitted bytes, scratch byte at out[0] dropped unless a carry
 * reached it).  State travels as regs = {a, c, ct, olen} so a Python
 * session can interleave calls (halftone planes, bypass segments).
 */
typedef struct {
    uint8_t *out;
    int64_t olen, cap;
    uint32_t c;
    int32_t a, ct;
    int err;
} MQE;

static void mqe_byteout(MQE *e) {
    if (e->olen >= e->cap) {
        e->err = 1;
        return;
    }
    if (e->out[e->olen - 1] == 0xFF) {
        e->out[e->olen++] = (uint8_t)((e->c >> 20) & 0xFF);
        e->c &= 0xFFFFF;
        e->ct = 7;
    } else {
        if (e->c & 0x8000000) {
            e->out[e->olen - 1] += 1;
            e->c &= 0x7FFFFFF;
            if (e->out[e->olen - 1] == 0xFF) {
                e->out[e->olen++] = (uint8_t)((e->c >> 20) & 0xFF);
                e->c &= 0xFFFFF;
                e->ct = 7;
                return;
            }
        }
        e->out[e->olen++] = (uint8_t)((e->c >> 19) & 0xFF);
        e->c &= 0x7FFFF;
        e->ct = 8;
    }
}

static void mqe_encode(MQE *e, uint8_t *states, uint8_t *mps,
                       uint32_t ctx, int d) {
    int i = states[ctx];
    uint32_t qe = g_qe[i];
    if (d == mps[ctx]) {
        e->a -= (int32_t)qe;
        if (e->a & 0x8000) {
            e->c += qe;
            return;
        }
        if ((uint32_t)e->a < qe)
            e->a = (int32_t)qe;
        else
            e->c += qe;
        states[ctx] = g_nmps[i];
    } else {
        e->a -= (int32_t)qe;
        if ((uint32_t)e->a < qe)
            e->c += qe;
        else
            e->a = (int32_t)qe;
        if (g_sw[i]) mps[ctx] = (uint8_t)(1 - mps[ctx]);
        states[ctx] = g_nlps[i];
    }
    do {
        e->a = (e->a << 1) & 0xFFFF;
        e->c <<= 1;
        e->ct -= 1;
        if (e->ct == 0) mqe_byteout(e);
    } while (!(e->a & 0x8000));
}

/* SETBITS + final byteouts; returns [start, olen) as the codeword. */
static void mqe_flush(MQE *e, int64_t *start) {
    uint32_t tempc = e->c + (uint32_t)e->a;
    e->c |= 0xFFFF;
    if (e->c >= tempc) e->c -= 0x8000;
    e->c <<= e->ct;
    mqe_byteout(e);
    e->c <<= e->ct;
    mqe_byteout(e);
    if (e->olen && e->out[e->olen - 1] == 0xFF) e->olen--;
    *start = (e->out[0] == 0) ? 1 : 0;
}

static void mqe_init(MQE *e, uint8_t *out, int64_t cap) {
    e->out = out;
    e->cap = cap;
    e->out[0] = 0;
    e->olen = 1;
    e->a = 0x8000;
    e->c = 0;
    e->ct = 12;
    e->err = 0;
}

/* Raw bit writer (B.10.1 stuffing), mirrors jp2codec._BioWriter. */
typedef struct {
    uint8_t *out;
    int64_t olen, cap;
    uint32_t buf;
    int32_t ct;
    int err;
} BIOW;

static void biow_init(BIOW *b, uint8_t *out, int64_t cap) {
    b->out = out;
    b->olen = 0;
    b->cap = cap;
    b->buf = 0;
    b->ct = 8;
    b->err = 0;
}

static void biow_write(BIOW *b, int bit) {
    b->buf = (b->buf << 1) | (uint32_t)(bit & 1);
    b->ct -= 1;
    if (b->ct == 0) {
        if (b->olen >= b->cap) {
            /* reset ct/buf so biow_flush terminates after a capacity
             * error instead of driving ct negative forever */
            b->err = 1;
            b->ct = 8;
            b->buf = 0;
            return;
        }
        b->out[b->olen++] = (uint8_t)b->buf;
        b->ct = (b->buf == 0xFF) ? 7 : 8;
        b->buf = 0;
    }
}

static void biow_flush(BIOW *b) {
    while (!b->err && (!(b->ct == 8 || b->ct == 7) || b->buf))
        biow_write(b, 0);
    if (!b->err && b->ct == 7) {
        biow_write(b, 0);
        while (!b->err && (b->buf || b->ct != 8)) biow_write(b, 0);
    }
    if (b->err) return;
    if (b->olen && b->out[b->olen - 1] == 0xFF) {
        if (b->olen >= b->cap) {
            b->err = 1;
            return;
        }
        b->out[b->olen++] = 0;
    }
}

/* ------------------------------------------------------ T1 encoder
 *
 * Plain-walk mirror of jp2codec.t1_encode (whose passes are already
 * plain walks).  Emits the codeword segments concatenated into out
 * with segoff boundaries; non-bypass emits one segment.
 */
typedef struct {
    int32_t *f;
    const uint32_t *fm;
    const uint8_t *fs;
    int32_t w, h, stride;
    const uint8_t *zc, *sc_ctx, *sc_xor;
    uint8_t *states, *mps;
    int32_t ctx_run, ctx_uni;
} T1E;

static void t1e_spp(T1E *t, int p, MQE *e) {
    int32_t w = t->w, h = t->h, s = t->stride, y0, x, k;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        for (x = 0; x < w; x++) {
            int64_t i = (int64_t)(y0 + 1) * s + x + 1;
            int64_t j = (int64_t)y0 * w + x;
            for (k = 0; k < rows; k++) {
                int32_t fl = t->f[i];
                if (!(fl & F_SIG) && (fl & NB_MASK)) {
                    int bit = (int)((t->fm[j] >> p) & 1);
                    mqe_encode(e, t->states, t->mps,
                               t->zc[fl & NB_MASK], bit);
                    t->f[i] = fl | F_VISIT;
                    if (bit) {
                        uint32_t key = (uint32_t)((fl & 0xF) |
                                                  ((fl >> 7) & 0xF0));
                        mqe_encode(e, t->states, t->mps,
                                   t->sc_ctx[key],
                                   t->fs[j] ^ t->sc_xor[key]);
                        t1_set_sig(t->f, t->stride, i, t->fs[j]);
                    }
                }
                i += s;
                j += w;
            }
        }
    }
}

static void t1e_spp_raw(T1E *t, int p, BIOW *b) {
    int32_t w = t->w, h = t->h, s = t->stride, y0, x, k;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        for (x = 0; x < w; x++) {
            int64_t i = (int64_t)(y0 + 1) * s + x + 1;
            int64_t j = (int64_t)y0 * w + x;
            for (k = 0; k < rows; k++) {
                int32_t fl = t->f[i];
                if (!(fl & F_SIG) && (fl & NB_MASK)) {
                    int bit = (int)((t->fm[j] >> p) & 1);
                    biow_write(b, bit);
                    t->f[i] = fl | F_VISIT;
                    if (bit) {
                        biow_write(b, t->fs[j]);
                        t1_set_sig(t->f, t->stride, i, t->fs[j]);
                    }
                }
                i += s;
                j += w;
            }
        }
    }
}

static void t1e_mrp(T1E *t, int p, MQE *e) {
    int32_t w = t->w, h = t->h, s = t->stride, y0, x, k;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        for (x = 0; x < w; x++) {
            int64_t i = (int64_t)(y0 + 1) * s + x + 1;
            int64_t j = (int64_t)y0 * w + x;
            for (k = 0; k < rows; k++) {
                int32_t fl = t->f[i];
                if ((fl & F_SIG) && !(fl & F_VISIT)) {
                    uint32_t ctx = (fl & F_REF)
                                       ? 16u
                                       : ((fl & NB_MASK) ? 15u : 14u);
                    mqe_encode(e, t->states, t->mps, ctx,
                               (int)((t->fm[j] >> p) & 1));
                    t->f[i] = fl | F_REF;
                }
                i += s;
                j += w;
            }
        }
    }
}

static void t1e_mrp_raw(T1E *t, int p, BIOW *b) {
    int32_t w = t->w, h = t->h, s = t->stride, y0, x, k;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        for (x = 0; x < w; x++) {
            int64_t i = (int64_t)(y0 + 1) * s + x + 1;
            int64_t j = (int64_t)y0 * w + x;
            for (k = 0; k < rows; k++) {
                int32_t fl = t->f[i];
                if ((fl & F_SIG) && !(fl & F_VISIT)) {
                    biow_write(b, (int)((t->fm[j] >> p) & 1));
                    t->f[i] = fl | F_REF;
                }
                i += s;
                j += w;
            }
        }
    }
}

static void t1e_cup(T1E *t, int p, MQE *e) {
    int32_t w = t->w, h = t->h, s = t->stride, y0, x, k;
    for (y0 = 0; y0 < h; y0 += 4) {
        int32_t rows = h - y0 < 4 ? h - y0 : 4;
        for (x = 0; x < w; x++) {
            int64_t i0 = (int64_t)(y0 + 1) * s + x + 1;
            int64_t j0 = (int64_t)y0 * w + x;
            int32_t kstart = 0;
            if (rows == 4 &&
                !((t->f[i0] | t->f[i0 + s] | t->f[i0 + 2 * s] |
                   t->f[i0 + 3 * s]) &
                  (NB_MASK | F_SIG | F_VISIT))) {
                int32_t first = -1;
                for (k = 0; k < 4; k++)
                    if ((t->fm[j0 + (int64_t)k * w] >> p) & 1) {
                        first = k;
                        break;
                    }
                if (first < 0) {
                    mqe_encode(e, t->states, t->mps,
                               (uint32_t)t->ctx_run, 0);
                    continue;
                }
                mqe_encode(e, t->states, t->mps, (uint32_t)t->ctx_run,
                           1);
                mqe_encode(e, t->states, t->mps, (uint32_t)t->ctx_uni,
                           (first >> 1) & 1);
                mqe_encode(e, t->states, t->mps, (uint32_t)t->ctx_uni,
                           first & 1);
                {
                    int64_t i = i0 + (int64_t)first * s;
                    int64_t j = j0 + (int64_t)first * w;
                    int32_t fl = t->f[i];
                    uint32_t key = (uint32_t)((fl & 0xF) |
                                              ((fl >> 7) & 0xF0));
                    mqe_encode(e, t->states, t->mps, t->sc_ctx[key],
                               t->fs[j] ^ t->sc_xor[key]);
                    t1_set_sig(t->f, t->stride, i, t->fs[j]);
                }
                kstart = first + 1;
            }
            for (k = kstart; k < rows; k++) {
                int64_t i = i0 + (int64_t)k * s;
                int32_t fl = t->f[i];
                int bit;
                if (fl & F_VISIT) {
                    t->f[i] = fl & ~F_VISIT;
                    continue;
                }
                if (fl & F_SIG) continue;
                {
                    int64_t j = j0 + (int64_t)k * w;
                    bit = (int)((t->fm[j] >> p) & 1);
                    mqe_encode(e, t->states, t->mps,
                               t->zc[fl & NB_MASK], bit);
                    if (bit) {
                        uint32_t key = (uint32_t)((fl & 0xF) |
                                                  ((fl >> 7) & 0xF0));
                        mqe_encode(e, t->states, t->mps,
                                   t->sc_ctx[key],
                                   t->fs[j] ^ t->sc_xor[key]);
                        t1_set_sig(t->f, t->stride, i, t->fs[j]);
                    }
                }
            }
        }
    }
}

/* Emits segments packed back-to-back at out; segoff[k] = start of
 * segment k relative to out, segoff[nseg] = total.  For non-bypass
 * nseg==1.  Caller sizes out generously; 5 = capacity exceeded. */
EXPORT int apts_t1_encode(const uint32_t *fm, const uint8_t *fs,
                          int32_t w, int32_t h, int32_t numbps,
                          int32_t bypass, const uint8_t *zc,
                          const uint8_t *sc_ctx, const uint8_t *sc_xor,
                          const uint8_t *init_states, int32_t n_ctx,
                          int32_t ctx_run, int32_t ctx_uni,
                          uint8_t *out, int64_t cap, int64_t *segoff,
                          int32_t *nseg_out) {
    T1E t;
    uint8_t states[64], mps[64];
    int32_t stride = w + 2, npasses;
    int64_t base = 0;
    MQE e;
    BIOW bio;
    int p;
    if (w <= 0 || h <= 0 || numbps < 1 || numbps > 31 || n_ctx > 64)
        return 3;
    bio.err = 0;       /* read before the first raw segment opens */
    bio.olen = 0;
    t.f = (int32_t *)calloc((size_t)stride * (h + 2), sizeof(int32_t));
    if (!t.f) return 4;
    t.fm = fm;
    t.fs = fs;
    t.w = w;
    t.h = h;
    t.stride = stride;
    t.zc = zc;
    t.sc_ctx = sc_ctx;
    t.sc_xor = sc_xor;
    memcpy(states, init_states, (size_t)n_ctx);
    memset(mps, 0, (size_t)n_ctx);
    t.states = states;
    t.mps = mps;
    t.ctx_run = ctx_run;
    t.ctx_uni = ctx_uni;
    npasses = 3 * numbps - 2;
    if (!bypass || npasses <= 10) {
        int64_t start;
        mqe_init(&e, out, cap);
        t1e_cup(&t, numbps - 1, &e);
        for (p = numbps - 2; p >= 0; p--) {
            t1e_spp(&t, p, &e);
            t1e_mrp(&t, p, &e);
            t1e_cup(&t, p, &e);
        }
        mqe_flush(&e, &start);
        free(t.f);
        if (e.err) return 5;
        if (start)
            memmove(out, out + 1, (size_t)(e.olen - start));
        segoff[0] = 0;
        segoff[1] = e.olen - start;
        *nseg_out = 1;
        return 0;
    }
    {
        int cur_sid = 0, tt, raw = 0;
        int64_t start;
        int nseg = 0;
        mqe_init(&e, out + base, cap - base);
        for (tt = 1; tt <= npasses; tt++) {
            int sid = t1_seg_id(tt), kind;
            if (sid != cur_sid) {
                /* close old coder, open new */
                if (cur_sid % 2) {
                    biow_flush(&bio);
                    if (bio.err) goto full;
                    segoff[nseg++] = base;
                    base += bio.olen;
                } else {
                    mqe_flush(&e, &start);
                    if (e.err) goto full;
                    if (start)
                        memmove(out + base, out + base + 1,
                                (size_t)(e.olen - start));
                    segoff[nseg++] = base;
                    base += e.olen - start;
                }
                if (sid % 2)
                    biow_init(&bio, out + base, cap - base);
                else
                    mqe_init(&e, out + base, cap - base);
                cur_sid = sid;
            }
            if (tt == 1) {
                p = numbps - 1;
                kind = 2;
            } else {
                int trip = (tt - 2) / 3;
                kind = (tt - 2) % 3;
                p = numbps - 2 - trip;
            }
            raw = cur_sid % 2 == 1;
            if (kind == 0) {
                if (raw)
                    t1e_spp_raw(&t, p, &bio);
                else
                    t1e_spp(&t, p, &e);
            } else if (kind == 1) {
                if (raw)
                    t1e_mrp_raw(&t, p, &bio);
                else
                    t1e_mrp(&t, p, &e);
            } else
                t1e_cup(&t, p, &e);
            if (e.err || bio.err) goto full;
        }
        if (cur_sid % 2) {
            biow_flush(&bio);
            if (bio.err) goto full;
            segoff[nseg++] = base;
            base += bio.olen;
        } else {
            mqe_flush(&e, &start);
            if (e.err) goto full;
            if (start)
                memmove(out + base, out + base + 1,
                        (size_t)(e.olen - start));
            segoff[nseg++] = base;
            base += e.olen - start;
        }
        segoff[nseg] = base;
        *nseg_out = nseg;
        free(t.f);
        return 0;
    full:
        free(t.f);
        return 5;
    }
}

/* -------------------------------------------- JBIG2 generic encoder
 *
 * Sorted-template mirror of jbig2codec._encode_generic's decision
 * sequence (the nominal window path emits the identical (ctx, bit)
 * stream); TPGDON typical-row logic per the Python encoder.  Shares
 * the MQE session through regs so halftone planes can interleave.
 */
EXPORT int apts_jb2_encode_generic(const uint8_t *bitmap, int32_t w,
                                   int32_t h, const int8_t *pix,
                                   int32_t npix, int32_t tpgdon,
                                   int32_t tp_ctx, const uint8_t *skip,
                                   uint8_t *states, uint8_t *mps,
                                   int64_t *regs, uint8_t *out,
                                   int64_t cap) {
    MQE e;
    int32_t y, x, t;
    int ltp = 0, have_prev = 0;
    if (w <= 0 || h <= 0 || npix <= 0 || npix > 16) return 3;
    e.out = out;
    e.cap = cap;
    e.a = (int32_t)regs[0];
    e.c = (uint32_t)regs[1];
    e.ct = (int32_t)regs[2];
    e.olen = regs[3];
    e.err = 0;
    if (e.olen == 0) {                       /* fresh session */
        e.out[0] = 0;
        e.olen = 1;
        e.a = 0x8000;
        e.c = 0;
        e.ct = 12;
    }
    for (y = 0; y < h; y++) {
        const uint8_t *row = bitmap + (int64_t)y * w;
        if (tpgdon) {
            int typical;
            if (y == 0) {
                typical = 1;
                for (x = 0; x < w; x++)
                    if (row[x]) {
                        typical = 0;
                        break;
                    }
            } else {
                typical = memcmp(row, row - w, (size_t)w) == 0;
            }
            (void)have_prev;
            mqe_encode(&e, states, mps, (uint32_t)tp_ctx,
                       typical ^ ltp);
            ltp = typical;
            if (typical) continue;
        }
        for (x = 0; x < w; x++) {
            int bit = row[x];
            if (!(skip && skip[(int64_t)y * w + x])) {
                uint32_t ctx = 0;
                for (t = 0; t < npix; t++) {
                    int32_t yy = y + pix[2 * t];
                    int32_t xx = x + pix[2 * t + 1];
                    int v = (yy >= 0 && yy < h && xx >= 0 && xx < w)
                                ? bitmap[(int64_t)yy * w + xx]
                                : 0;
                    ctx = (ctx << 1) | (uint32_t)v;
                }
                mqe_encode(&e, states, mps, ctx, bit);
            }
        }
        if (e.err) return 5;
    }
    regs[0] = e.a;
    regs[1] = (int64_t)e.c;
    regs[2] = e.ct;
    regs[3] = e.olen;
    return e.err ? 5 : 0;
}

/* Flush a JBIG2 encode session; returns start offset via *start. */
EXPORT int apts_jb2_encode_flush(int64_t *regs, uint8_t *out,
                                 int64_t cap, int64_t *start) {
    MQE e;
    e.out = out;
    e.cap = cap;
    e.a = (int32_t)regs[0];
    e.c = (uint32_t)regs[1];
    e.ct = (int32_t)regs[2];
    e.olen = regs[3];
    e.err = 0;
    mqe_flush(&e, start);
    if (e.err) return 5;
    regs[3] = e.olen;
    return 0;
}

/* ------------------------------------------------ JPEG baseline scan
 *
 * Mirrors jpegcodec._decode_scan's hand-flattened scalar Huffman walk
 * (40-bit accumulator, zero-fed tail with pad counting, per-MCU
 * restart resets).  Tables are the Python module's 2^16-peek arrays
 * (sym int16 with -1 invalid, len int8), stacked per component by the
 * wrapper.  Error codes mirror the Python raise sites; the caller
 * falls back to Python for the exact exception.
 */
EXPORT int apts_jpeg_scan(
    const uint8_t *segbuf, const int64_t *segoff, int32_t nseg,
    int32_t ri, int64_t n_mcus, int32_t mcus_x, int32_t ncomp,
    const int32_t *cv, const int32_t *ch, const int32_t *cbw,
    const int16_t *dsym_stack, const int8_t *dlen_stack,
    const int16_t *asym_stack, const int8_t *alen_stack,
    const int32_t *tab_idx,     /* per comp: (dc_tab, ac_tab) pairs */
    int32_t dcmax, int32_t *coef, const int64_t *coef_off) {
    uint64_t buf = 0;
    int32_t cnt = 0, pad = 0;
    int64_t pos = 0, mcu;
    int32_t seg_idx = 0, c;
    const uint8_t *seg = segbuf + segoff[0];
    int64_t seglen = segoff[1] - segoff[0];
    int32_t pred[8] = {0};
    if (ncomp < 1 || ncomp > 4) return 3;
    for (mcu = 0; mcu < n_mcus; mcu++) {
        int64_t my, mx;
        if (ri && mcu && mcu % ri == 0) {
            seg_idx++;
            if (seg_idx >= nseg) return 5; /* truncated restart seg */
            seg = segbuf + segoff[seg_idx];
            seglen = segoff[seg_idx + 1] - segoff[seg_idx];
            pos = 0;
            buf = 0;
            cnt = 0;
            pad = 0;
            memset(pred, 0, sizeof(pred));
        }
        my = mcu / mcus_x;
        mx = mcu % mcus_x;
        for (c = 0; c < ncomp; c++) {
            const int16_t *dsym =
                dsym_stack + (int64_t)tab_idx[2 * c] * 65536;
            const int8_t *dlen =
                dlen_stack + (int64_t)tab_idx[2 * c] * 65536;
            const int16_t *asym =
                asym_stack + (int64_t)tab_idx[2 * c + 1] * 65536;
            const int8_t *alen =
                alen_stack + (int64_t)tab_idx[2 * c + 1] * 65536;
            int32_t cvv = cv[c], chh = ch[c], cbww = cbw[c];
            int32_t *flat = coef + coef_off[c];
            int32_t p = pred[c], by, bx;
            for (by = 0; by < cvv; by++) {
                for (bx = 0; bx < chh; bx++) {
                    int64_t base =
                        (((my * cvv + by) * cbww) + mx * chh + bx) * 64;
                    int32_t peek, t, k;
                    /* --- DC --- */
                    if (cnt < 16) {
                        while (cnt <= 24) {
                            buf = (buf << 8) |
                                  (pos < seglen ? seg[pos] : 0);
                            pad += pos >= seglen;
                            pos++;
                            cnt += 8;
                        }
                        buf &= 0xFFFFFFFFFFull;
                    }
                    peek = (int32_t)((buf >> (cnt - 16)) & 0xFFFF);
                    t = dsym[peek];
                    if (t < 0 || t > dcmax) return 6; /* bad DC code */
                    cnt -= dlen[peek];
                    if (t) {
                        int32_t v;
                        if (cnt < t) {
                            while (cnt <= 24) {
                                buf = (buf << 8) |
                                      (pos < seglen ? seg[pos] : 0);
                                pad += pos >= seglen;
                                pos++;
                                cnt += 8;
                            }
                            buf &= 0xFFFFFFFFFFull;
                        }
                        cnt -= t;
                        v = (int32_t)((buf >> cnt) &
                                      ((1u << t) - 1));
                        p += (v >> (t - 1)) ? v : v - (1 << t) + 1;
                        if (!(-(1 << 20) < p && p < (1 << 20)))
                            return 7;        /* DC accumulator range */
                    }
                    flat[base] = p;
                    /* --- AC --- */
                    k = 1;
                    while (k < 64) {
                        int32_t rs, s;
                        if (cnt < 16) {
                            while (cnt <= 24) {
                                buf = (buf << 8) |
                                      (pos < seglen ? seg[pos] : 0);
                                pad += pos >= seglen;
                                pos++;
                                cnt += 8;
                            }
                            buf &= 0xFFFFFFFFFFull;
                        }
                        peek = (int32_t)((buf >> (cnt - 16)) & 0xFFFF);
                        rs = asym[peek];
                        if (rs < 0) return 8; /* invalid Huffman code */
                        cnt -= alen[peek];
                        s = rs & 0x0F;
                        if (s == 0) {
                            if (rs == 0xF0) {
                                k += 16;
                                continue;
                            }
                            break;           /* EOB */
                        }
                        k += rs >> 4;
                        if (k > 63) return 9; /* AC index overflow */
                        {
                            int32_t v;
                            if (cnt < s) {
                                while (cnt <= 24) {
                                    buf = (buf << 8) |
                                          (pos < seglen ? seg[pos] : 0);
                                    pad += pos >= seglen;
                                    pos++;
                                    cnt += 8;
                                }
                                buf &= 0xFFFFFFFFFFull;
                            }
                            cnt -= s;
                            v = (int32_t)((buf >> cnt) &
                                          ((1u << s) - 1));
                            flat[base + k] =
                                (v >> (s - 1)) ? v : v - (1 << s) + 1;
                        }
                        k++;
                    }
                }
            }
            pred[c] = p;
        }
        if (pad > 8) return 10;              /* entropy exhausted */
    }
    return 0;
}

/* ----------------------------------------------- JPEG pixel finish
 *
 * Fused elementwise tails of jpegcodec._assemble, bit-identical to
 * the numpy expression trees (rint = banker's rounding, exactly
 * np.round(decimals=0); -ffp-contract=off build).
 */
#include <math.h>

/* pix = clip(round(pix) + shift, 0, maxv) cast to u8/u16 */
EXPORT void apts_idct_finish(const double *pix, int64_t n, int32_t shift,
                             int32_t maxv, uint8_t *out8,
                             uint16_t *out16) {
    int64_t i;
    if (out8) {
        for (i = 0; i < n; i++) {
            double v = rint(pix[i]) + shift;
            out8[i] = (uint8_t)(v < 0 ? 0 : (v > maxv ? maxv : v));
        }
    } else {
        for (i = 0; i < n; i++) {
            double v = rint(pix[i]) + shift;
            out16[i] = (uint16_t)(v < 0 ? 0 : (v > maxv ? maxv : v));
        }
    }
}

/* interleaved RGB from u8/u16 planes: float64 BT.601 floats, rint,
 * clip — mirrors the default (non-fancy) conversion in _assemble */
EXPORT void apts_ycc_rgb(const uint16_t *y, const uint16_t *cb,
                         const uint16_t *cr, int64_t n, int32_t shift,
                         int32_t maxv, double kcr, double kcbg,
                         double kcrg, double kcb, uint8_t *out8,
                         uint16_t *out16) {
    int64_t i;
    for (i = 0; i < n; i++) {
        double yf = (double)y[i];
        double cbf = (double)cb[i] - (double)shift;
        double crf = (double)cr[i] - (double)shift;
        double r = rint(yf + kcr * crf);
        double g = rint(yf - kcbg * cbf - kcrg * crf);
        double b = rint(yf + kcb * cbf);
        r = r < 0 ? 0 : (r > maxv ? maxv : r);
        g = g < 0 ? 0 : (g > maxv ? maxv : g);
        b = b < 0 ? 0 : (b > maxv ? maxv : b);
        if (out8) {
            out8[3 * i] = (uint8_t)r;
            out8[3 * i + 1] = (uint8_t)g;
            out8[3 * i + 2] = (uint8_t)b;
        } else {
            out16[3 * i] = (uint16_t)r;
            out16[3 * i + 1] = (uint16_t)g;
            out16[3 * i + 2] = (uint16_t)b;
        }
    }
}

/* ----------------------------------------------- optimise2 (MRC)
 *
 * Mirrors kernels/optimise.py::_optimise2 (itself the reference's
 * optimiser.pyx re-derivation): background/foreground fill where
 * mask==0 as (FIR + IIR) // count with the half-open clamped windows
 * documented there.  All-integer; the IIR reads already-final output
 * rows, so a plain row walk reproduces the vectorized result exactly.
 */
EXPORT int apts_optimise2(const uint8_t *mask, const uint8_t *img,
                          int32_t h, int32_t w, int32_t ch, int32_t n,
                          uint8_t *out) {
    /* Fused layout (r10): the FIR window sums are looked up straight
     * from the integral images inside the fill walk instead of being
     * materialized as whole-page fir_cnt/fir_val planes — two full
     * write+read passes of h*w(*ch) intermediates gone.  Channels are
     * fully independent (the IIR feedback reads only the channel being
     * filled), so the walk runs once per channel.  All arithmetic,
     * window clamping and traversal order are IDENTICAL to the
     * previous form (and to kernels/optimise.py::_optimise2). */
    int64_t stride = w + 1;
    int64_t *icnt, *ival, *col_sums, *P;
    int32_t y, x, c;
    if (h <= 0 || w <= 0 || ch < 1 || ch > 4 || n < 0 || n > 4096)
        return 3;
    icnt = (int64_t *)calloc((size_t)(h + 1) * stride, 8);
    ival = (int64_t *)malloc((size_t)(h + 1) * stride * 8);
    col_sums = (int64_t *)malloc((size_t)w * 8);
    P = (int64_t *)malloc(((size_t)w + 1) * 8);
    if (!icnt || !ival || !col_sums || !P) {
        free(icnt);
        free(ival);
        free(col_sums);
        free(P);
        return 4;
    }
    /* mask-count integral (shared by every channel) */
    for (y = 0; y < h; y++) {
        const uint8_t *mrow = mask + (int64_t)y * w;
        int64_t *ir = icnt + (int64_t)(y + 1) * stride;
        const int64_t *ir0 = icnt + (int64_t)y * stride;
        int64_t acc = 0;
        for (x = 0; x < w; x++) {
            acc += mrow[x] ? 1 : 0;
            ir[x + 1] = acc + ir0[x + 1];
        }
    }
    for (c = 0; c < ch; c++) {
        int32_t iys_prev = 0, iye_prev = 0;
        /* masked-value integral for this channel */
        memset(ival, 0, (size_t)(h + 1) * stride * 8);
        for (y = 0; y < h; y++) {
            const uint8_t *mrow = mask + (int64_t)y * w;
            const uint8_t *irow = img + ((int64_t)y * w) * ch + c;
            int64_t *ir = ival + (int64_t)(y + 1) * stride;
            const int64_t *ir0 = ival + (int64_t)y * stride;
            int64_t acc = 0;
            for (x = 0; x < w; x++) {
                acc += mrow[x] ? irow[(int64_t)x * ch] : 0;
                ir[x + 1] = acc + ir0[x + 1];
            }
        }
        /* IIR row walk over the output under construction */
        memset(col_sums, 0, (size_t)w * 8);
        for (y = 0; y < h; y++) {
            int32_t ys = y - n > 0 ? y - n : 0;
            int32_t ycnt = y < n ? y : n;
            int32_t r0 = y - n > 0 ? y - n : 0;
            int32_t r1 = (y + n < h ? y + n : h) - 1;
            const int64_t *ftopc = icnt + (int64_t)r0 * stride;
            const int64_t *fbotc = icnt + (int64_t)(r1 + 1) * stride;
            const int64_t *ftopv = ival + (int64_t)r0 * stride;
            const int64_t *fbotv = ival + (int64_t)(r1 + 1) * stride;
            const uint8_t *mrow = mask + (int64_t)y * w;
            uint8_t *orow = out + ((int64_t)y * w) * ch;
            while (iys_prev < ys) {
                const uint8_t *r =
                    out + ((int64_t)iys_prev * w) * ch + c;
                for (x = 0; x < w; x++)
                    col_sums[x] -= r[(int64_t)x * ch];
                iys_prev++;
            }
            while (iye_prev < y) {
                const uint8_t *r =
                    out + ((int64_t)iye_prev * w) * ch + c;
                for (x = 0; x < w; x++)
                    col_sums[x] += r[(int64_t)x * ch];
                iye_prev++;
            }
            /* prefix over columns: P[x] = sum of col_sums cols [0, x) */
            P[0] = 0;
            for (x = 0; x < w; x++) P[x + 1] = P[x] + col_sums[x];
            for (x = 0; x < w; x++) {
                int32_t xs, icount, c0, c1;
                int64_t cnt, val;
                if (mrow[x]) continue;       /* mask pixels unchanged */
                xs = x - n > 0 ? x - n : 0;
                c0 = xs;
                c1 = (x + n < w ? x + n : w) - 1;
                icount = ycnt * (x - xs);
                cnt = (fbotc[c1 + 1] - ftopc[c1 + 1] - fbotc[c0] +
                       ftopc[c0]) + icount;
                val = (fbotv[c1 + 1] - ftopv[c1 + 1] - fbotv[c0] +
                       ftopv[c0]) + (P[x] - P[xs]);
                orow[(int64_t)x * ch + c] =
                    (uint8_t)(cnt ? val / cnt : 0);
            }
        }
    }
    free(icnt);
    free(ival);
    free(col_sums);
    free(P);
    return 0;
}

/* -------------------------------------------------- Sauvola (MRC)
 *
 * Mirrors kernels/sauvola.py::sauvola_mask (itself a re-derivation of
 * the reference's cython/sauvola.pyx): clamped-window sums via padded
 * integral images, C-truncated integer division, and the float64
 * decision with the exact operand order of the numpy expressions
 * (build is -ffp-contract=off).  out: 1 = ink.
 */
EXPORT int apts_sauvola(const uint8_t *img, int32_t h, int32_t w,
                        int32_t ww, int32_t wh, double k, double R,
                        uint8_t *out) {
    int64_t *I, *I2;
    int32_t l = (ww + 1) / 2, r = ww / 2;
    int32_t o = (wh + 1) / 2, u = wh / 2;
    int64_t stride = w + 1;
    int32_t y, x;
    double k2 = k * k / R / R, km1 = k - 1.0;
    if (h <= 0 || w <= 0) return 3;
    I = (int64_t *)calloc((size_t)(h + 1) * stride, sizeof(int64_t));
    I2 = (int64_t *)calloc((size_t)(h + 1) * stride, sizeof(int64_t));
    if (!I || !I2) {
        free(I);
        free(I2);
        return 4;
    }
    for (y = 0; y < h; y++) {
        const uint8_t *row = img + (int64_t)y * w;
        int64_t *ir = I + (int64_t)(y + 1) * stride;
        int64_t *ir0 = I + (int64_t)y * stride;
        int64_t *qr = I2 + (int64_t)(y + 1) * stride;
        int64_t *qr0 = I2 + (int64_t)y * stride;
        int64_t racc = 0, qacc = 0;
        for (x = 0; x < w; x++) {
            int64_t v = row[x];
            racc += v;
            qacc += v * v;
            ir[x + 1] = racc + ir0[x + 1];
            qr[x + 1] = qacc + qr0[x + 1];
        }
    }
    for (y = 0; y < h; y++) {
        int32_t r0 = y - o + 1 > 0 ? y - o + 1 : 0;
        int32_t r1 = y + u < h - 1 ? y + u : h - 1;
        const int64_t *top = I + (int64_t)r0 * stride;
        const int64_t *bot = I + (int64_t)(r1 + 1) * stride;
        const int64_t *top2 = I2 + (int64_t)r0 * stride;
        const int64_t *bot2 = I2 + (int64_t)(r1 + 1) * stride;
        const uint8_t *row = img + (int64_t)y * w;
        uint8_t *orow = out + (int64_t)y * w;
        int64_t rows_n = r1 - r0 + 1;
        for (x = 0; x < w; x++) {
            int32_t c0 = x - l + 1 > 0 ? x - l + 1 : 0;
            int32_t c1 = x + r < w - 1 ? x + r : w - 1;
            int64_t count = rows_n * (c1 - c0 + 1);
            int64_t sum = bot[c1 + 1] - top[c1 + 1] - bot[c0] + top[c0];
            int64_t sq =
                bot2[c1 + 1] - top2[c1 + 1] - bot2[c0] + top2[c0];
            int64_t mean_i = sum / count;
            int64_t var_i = sq / count - mean_i * mean_i;
            double mean = (double)mean_i;
            double variance = (double)var_i;
            double tmp = mean * km1 + (double)row[x];
            double rhs = mean * mean * k2 * variance;
            double t2 = tmp * tmp;
            int ink;
            if (k >= 0)
                ink = (tmp <= 0) || (t2 <= rhs);
            else
                ink = (tmp <= 0) && (t2 >= rhs);
            orow[x] = (uint8_t)ink;
        }
    }
    free(I);
    free(I2);
    return 0;
}

/* ------------------------------------------- JPEG progressive scan
 *
 * Mirrors jpegcodec._decode_scan_prog (T.81 G.1.2): DC first and
 * refinement scans (interleaved or single-component), AC first scans
 * with EOBn runs, AC refinement with correction bits, restart
 * markers.  The per-segment _BitReader semantics (zero-fed tail,
 * pad > 4 raises) are reproduced; all SOS validation stays in Python.
 */
typedef struct {
    const uint8_t *seg;
    int64_t n, pos;
    uint64_t buf;
    int32_t cnt, pad;
    int err;
} PBR;

static void pbr_init(PBR *b, const uint8_t *seg, int64_t n) {
    b->seg = seg;
    b->n = n;
    b->pos = 0;
    b->buf = 0;
    b->cnt = 0;
    b->pad = 0;
    b->err = 0;
}

static inline void pbr_fill(PBR *b) {
    while (b->cnt <= 24) {
        uint32_t v;
        if (b->pos < b->n) {
            v = b->seg[b->pos];
        } else {
            v = 0;
            b->pad += 1;
        }
        b->buf = ((b->buf << 8) | v) & 0xFFFFFFFFFFull;
        b->pos += 1;
        b->cnt += 8;
    }
}

static inline int32_t pbr_bits(PBR *b, int k) {
    if (b->cnt < k) pbr_fill(b);
    if (b->pad > 4) {
        b->err = 10; /* entropy data exhausted in scan */
        return 0;
    }
    b->cnt -= k;
    return (int32_t)((b->buf >> b->cnt) & ((1u << k) - 1));
}

static inline int32_t pbr_huff(PBR *b, const int16_t *sym,
                               const int8_t *len) {
    int32_t peek, s;
    if (b->cnt < 16) pbr_fill(b);
    if (b->pad > 4) {
        b->err = 10;
        return 0;
    }
    peek = (int32_t)((b->buf >> (b->cnt - 16)) & 0xFFFF);
    s = sym[peek];
    if (s < 0) {
        b->err = 8; /* invalid Huffman code */
        return 0;
    }
    b->cnt -= len[peek];
    return s;
}

static inline int32_t jext(int32_t v, int t) {
    return (v >> (t - 1)) ? v : v - (1 << t) + 1;
}

EXPORT int apts_jpeg_prog_scan(
    const uint8_t *segbuf, const int64_t *segoff, int32_t nseg,
    int32_t ri, int64_t n_units, int32_t ss, int32_t se, int32_t ah,
    int32_t al, int32_t interleaved, int32_t mcus_x, int32_t ncomp,
    const int32_t *cv, const int32_t *ch, const int32_t *cbw,
    const int32_t *bw_ni, const int16_t *sym_stack,
    const int8_t *len_stack, const int32_t *tab_idx, int32_t dcmax,
    int32_t **flats) {
    PBR br;
    int32_t seg_idx = 0, c;
    int64_t unit;
    int32_t pred[8] = {0};
    int64_t eobrun = 0;
    if (ncomp < 1 || ncomp > 4) return 3;
    pbr_init(&br, segbuf + segoff[0], segoff[1] - segoff[0]);
    if (ss == 0) {
        for (unit = 0; unit < n_units; unit++) {
            if (ri && unit && unit % ri == 0) {
                seg_idx++;
                if (seg_idx >= nseg) return 5;
                pbr_init(&br, segbuf + segoff[seg_idx],
                         segoff[seg_idx + 1] - segoff[seg_idx]);
                memset(pred, 0, sizeof(pred));
                eobrun = 0;
            }
            for (c = 0; c < ncomp; c++) {
                int32_t *flat = flats[c];
                int32_t blocks[16];
                int32_t nb = 0, bi;
                if (interleaved) {
                    int64_t my = unit / mcus_x, mx = unit % mcus_x;
                    int32_t by, bx;
                    for (by = 0; by < cv[c]; by++)
                        for (bx = 0; bx < ch[c]; bx++)
                            blocks[nb++] =
                                (int32_t)(((my * cv[c] + by) * cbw[c] +
                                           mx * ch[c] + bx));
                } else {
                    int64_t by = unit / bw_ni[c],
                            bx = unit % bw_ni[c];
                    blocks[nb++] = (int32_t)(by * cbw[c] + bx);
                }
                for (bi = 0; bi < nb; bi++) {
                    int64_t base = (int64_t)blocks[bi] * 64;
                    if (ah == 0) {
                        const int16_t *ds =
                            sym_stack +
                            (int64_t)tab_idx[c] * 65536;
                        const int8_t *dl =
                            len_stack + (int64_t)tab_idx[c] * 65536;
                        int32_t t = pbr_huff(&br, ds, dl);
                        int32_t diff = 0;
                        if (br.err) return br.err;
                        if (t > dcmax) return 6;
                        if (t) {
                            diff = jext(pbr_bits(&br, t), t);
                            if (br.err) return br.err;
                        }
                        pred[c] += diff;
                        if (!(-(1 << 20) < pred[c] &&
                              pred[c] < (1 << 20)))
                            return 7;
                        flat[base] = pred[c] << al;
                    } else {
                        if (pbr_bits(&br, 1))
                            flat[base] |= 1 << al;
                        if (br.err) return br.err;
                    }
                }
            }
        }
        return 0;
    }
    /* AC scan: single component */
    {
        int32_t *flat = flats[0];
        const int16_t *as = sym_stack + (int64_t)tab_idx[0] * 65536;
        const int8_t *alen = len_stack + (int64_t)tab_idx[0] * 65536;
        int32_t p1 = 1 << al, m1 = -(1 << al);
        for (unit = 0; unit < n_units; unit++) {
            int64_t base;
            int32_t k;
            if (ri && unit && unit % ri == 0) {
                seg_idx++;
                if (seg_idx >= nseg) return 5;
                pbr_init(&br, segbuf + segoff[seg_idx],
                         segoff[seg_idx + 1] - segoff[seg_idx]);
                eobrun = 0;
            }
            {
                int64_t by = unit / bw_ni[0], bx = unit % bw_ni[0];
                base = (by * cbw[0] + bx) * 64;
            }
            if (ah == 0) {
                if (eobrun) {
                    eobrun--;
                    continue;
                }
                k = ss;
                while (k <= se) {
                    int32_t rs = pbr_huff(&br, as, alen);
                    int32_t r, s;
                    if (br.err) return br.err;
                    r = rs >> 4;
                    s = rs & 0x0F;
                    if (s) {
                        k += r;
                        if (k > se) return 9;
                        flat[base + k] =
                            jext(pbr_bits(&br, s), s) << al;
                        if (br.err) return br.err;
                        k++;
                    } else {
                        if (r != 15) {
                            eobrun = ((int64_t)1 << r) - 1;
                            if (r) {
                                eobrun += pbr_bits(&br, r);
                                if (br.err) return br.err;
                            }
                            break;
                        }
                        k += 16;
                    }
                }
            } else {
                k = ss;
                if (eobrun == 0) {
                    while (k <= se) {
                        int32_t rs = pbr_huff(&br, as, alen);
                        int32_t r, s, newval = 0, hit = 0;
                        if (br.err) return br.err;
                        r = rs >> 4;
                        s = rs & 0x0F;
                        if (s == 0) {
                            if (r != 15) {
                                eobrun = (int64_t)1 << r;
                                if (r) {
                                    eobrun += pbr_bits(&br, r);
                                    if (br.err) return br.err;
                                }
                                break;
                            }
                        } else {
                            if (s != 1) return 11;
                            newval = pbr_bits(&br, 1) ? p1 : m1;
                            if (br.err) return br.err;
                        }
                        while (k <= se) {
                            int64_t idx = base + k;
                            int32_t cur = flat[idx];
                            if (cur) {
                                int32_t bit = pbr_bits(&br, 1);
                                if (br.err) return br.err;
                                if (bit && !(cur & p1))
                                    flat[idx] =
                                        cur + (cur >= 0 ? p1 : m1);
                            } else {
                                r--;
                                if (r < 0) {
                                    hit = 1;
                                    if (newval) flat[idx] = newval;
                                    k++;
                                    break;
                                }
                            }
                            k++;
                        }
                        if (!hit && newval) return 9;
                    }
                }
                if (eobrun) {
                    while (k <= se) {
                        int64_t idx = base + k;
                        int32_t cur = flat[idx];
                        if (cur) {
                            int32_t bit = pbr_bits(&br, 1);
                            if (br.err) return br.err;
                            if (bit && !(cur & p1))
                                flat[idx] = cur + (cur >= 0 ? p1 : m1);
                        }
                        k++;
                    }
                    eobrun--;
                }
            }
        }
    }
    return 0;
}

/* ----------------------------------------------------- AES / RC4
 *
 * Mirrors kernels/pdfcrypt.py's T-table AES (tables derived in Python
 * from field axioms and passed in — nothing transcribed here) and its
 * RC4.  CBC chaining + PKCS#5 stay in the Python callers; these do
 * the aligned block work.
 */
EXPORT void apts_aes_cbc(const uint8_t *in, int64_t nbytes,
                         const uint8_t *iv, const uint32_t *kw,
                         const uint32_t *ikw, int32_t nr,
                         const uint32_t *t0, const uint32_t *t1,
                         const uint32_t *t2, const uint32_t *t3,
                         const uint8_t *sbox, int32_t decrypt,
                         uint8_t *out) {
    uint8_t prev[16];
    int64_t i;
    int32_t r, c;
    memcpy(prev, iv, 16);
    for (i = 0; i < nbytes; i += 16) {
        const uint8_t *blk = in + i;
        uint32_t a[4], b[4], v;
        uint8_t tmp[16];
        if (decrypt) {
            for (c = 0; c < 4; c++)
                a[c] = ((uint32_t)blk[4 * c] << 24 |
                        (uint32_t)blk[4 * c + 1] << 16 |
                        (uint32_t)blk[4 * c + 2] << 8 |
                        blk[4 * c + 3]) ^
                       kw[4 * nr + c];
            for (r = nr - 1; r > 0; r--) {
                const uint32_t *k = ikw + 4 * r;
                b[0] = t0[a[0] >> 24] ^ t1[(a[3] >> 16) & 0xFF] ^
                       t2[(a[2] >> 8) & 0xFF] ^ t3[a[1] & 0xFF] ^ k[0];
                b[1] = t0[a[1] >> 24] ^ t1[(a[0] >> 16) & 0xFF] ^
                       t2[(a[3] >> 8) & 0xFF] ^ t3[a[2] & 0xFF] ^ k[1];
                b[2] = t0[a[2] >> 24] ^ t1[(a[1] >> 16) & 0xFF] ^
                       t2[(a[0] >> 8) & 0xFF] ^ t3[a[3] & 0xFF] ^ k[2];
                b[3] = t0[a[3] >> 24] ^ t1[(a[2] >> 16) & 0xFF] ^
                       t2[(a[1] >> 8) & 0xFF] ^ t3[a[0] & 0xFF] ^ k[3];
                memcpy(a, b, sizeof(a));
            }
            for (c = 0; c < 4; c++) {
                uint32_t x = a[c], y = a[(c + 3) & 3],
                         z = a[(c + 2) & 3], w_ = a[(c + 1) & 3];
                v = ((uint32_t)sbox[x >> 24] << 24 |
                     (uint32_t)sbox[(y >> 16) & 0xFF] << 16 |
                     (uint32_t)sbox[(z >> 8) & 0xFF] << 8 |
                     sbox[w_ & 0xFF]) ^
                    kw[c];
                tmp[4 * c] = (uint8_t)(v >> 24);
                tmp[4 * c + 1] = (uint8_t)(v >> 16);
                tmp[4 * c + 2] = (uint8_t)(v >> 8);
                tmp[4 * c + 3] = (uint8_t)v;
            }
            for (c = 0; c < 16; c++) out[i + c] = tmp[c] ^ prev[c];
            memcpy(prev, blk, 16);
        } else {
            for (c = 0; c < 16; c++) tmp[c] = blk[c] ^ prev[c];
            for (c = 0; c < 4; c++)
                a[c] = ((uint32_t)tmp[4 * c] << 24 |
                        (uint32_t)tmp[4 * c + 1] << 16 |
                        (uint32_t)tmp[4 * c + 2] << 8 |
                        tmp[4 * c + 3]) ^
                       kw[c];
            for (r = 1; r < nr; r++) {
                const uint32_t *k = kw + 4 * r;
                b[0] = t0[a[0] >> 24] ^ t1[(a[1] >> 16) & 0xFF] ^
                       t2[(a[2] >> 8) & 0xFF] ^ t3[a[3] & 0xFF] ^ k[0];
                b[1] = t0[a[1] >> 24] ^ t1[(a[2] >> 16) & 0xFF] ^
                       t2[(a[3] >> 8) & 0xFF] ^ t3[a[0] & 0xFF] ^ k[1];
                b[2] = t0[a[2] >> 24] ^ t1[(a[3] >> 16) & 0xFF] ^
                       t2[(a[0] >> 8) & 0xFF] ^ t3[a[1] & 0xFF] ^ k[2];
                b[3] = t0[a[3] >> 24] ^ t1[(a[0] >> 16) & 0xFF] ^
                       t2[(a[1] >> 8) & 0xFF] ^ t3[a[2] & 0xFF] ^ k[3];
                memcpy(a, b, sizeof(a));
            }
            for (c = 0; c < 4; c++) {
                uint32_t x = a[c], y = a[(c + 1) & 3],
                         z = a[(c + 2) & 3], w_ = a[(c + 3) & 3];
                v = ((uint32_t)sbox[x >> 24] << 24 |
                     (uint32_t)sbox[(y >> 16) & 0xFF] << 16 |
                     (uint32_t)sbox[(z >> 8) & 0xFF] << 8 |
                     sbox[w_ & 0xFF]) ^
                    kw[4 * nr + c];
                out[i + 4 * c] = (uint8_t)(v >> 24);
                out[i + 4 * c + 1] = (uint8_t)(v >> 16);
                out[i + 4 * c + 2] = (uint8_t)(v >> 8);
                out[i + 4 * c + 3] = (uint8_t)v;
            }
            memcpy(prev, out + i, 16);
        }
    }
}

EXPORT void apts_rc4(const uint8_t *key, int32_t klen,
                     const uint8_t *in, int64_t n, uint8_t *out) {
    uint8_t S[256];
    int32_t i, j = 0;
    int64_t t;
    for (i = 0; i < 256; i++) S[i] = (uint8_t)i;
    for (i = 0; i < 256; i++) {
        uint8_t tmp;
        j = (j + S[i] + key[i % klen]) & 0xFF;
        tmp = S[i];
        S[i] = S[j];
        S[j] = tmp;
    }
    i = 0;
    j = 0;
    for (t = 0; t < n; t++) {
        uint8_t tmp;
        i = (i + 1) & 0xFF;
        j = (j + S[i]) & 0xFF;
        tmp = S[i];
        S[i] = S[j];
        S[j] = tmp;
        out[t] = in[t] ^ S[(S[i] + S[j]) & 0xFF];
    }
}

/* --------------------------------------------- JPEG lossless (SOF3)
 *
 * Mirrors jpegcodec._decode_scan_lossless: the per-sample Huffman
 * difference walk plus the H.1 predictor reconstruction (predictors
 * 1-7, mod-65536 at store, cumulative sums accumulated unmasked like
 * the numpy expressions).  outs: ncs planes of h*w int32 samples
 * (pre-point-transform).
 */
EXPORT int apts_jpeg_lossless(const uint8_t *seg, int64_t n,
                              int32_t w, int32_t h, int32_t ncs,
                              int32_t pred_sel, int32_t prec,
                              int32_t pt, const int16_t *sym_stack,
                              const int8_t *len_stack,
                              const int32_t *tab_idx, int32_t *outs) {
    PBR br;
    int32_t *diff;
    int64_t *acc;
    int32_t y, x, ci;
    int64_t dflt = (int64_t)1 << (prec - pt - 1);
    if (w <= 0 || h <= 0 || ncs < 1 || ncs > 4) return 3;
    diff = (int32_t *)malloc((size_t)ncs * w * sizeof(int32_t));
    acc = (int64_t *)malloc((size_t)w * sizeof(int64_t));
    if (!diff || !acc) {
        free(diff);
        free(acc);
        return 4;
    }
    pbr_init(&br, seg, n);
    for (y = 0; y < h; y++) {
        for (x = 0; x < w; x++) {
            for (ci = 0; ci < ncs; ci++) {
                const int16_t *sy =
                    sym_stack + (int64_t)tab_idx[ci] * 65536;
                const int8_t *ln =
                    len_stack + (int64_t)tab_idx[ci] * 65536;
                int32_t t = pbr_huff(&br, sy, ln), d;
                if (br.err) goto fail;
                if (t == 0) {
                    d = 0;
                } else if (t == 16) {
                    d = 32768;
                } else if (t > 16) {
                    br.err = 6; /* bad difference category */
                    goto fail;
                } else {
                    d = jext(pbr_bits(&br, t), t);
                    if (br.err) goto fail;
                }
                diff[(int64_t)ci * w + x] = d;
            }
        }
        for (ci = 0; ci < ncs; ci++) {
            int32_t *out = outs + (int64_t)ci * h * w;
            int32_t *row = out + (int64_t)y * w;
            const int32_t *prev = row - w;
            const int32_t *d = diff + (int64_t)ci * w;
            if (y == 0) {
                int64_t run = 0;
                for (x = 0; x < w; x++) {
                    run += d[x];
                    acc[x] = dflt + run;
                }
            } else if (pred_sel == 1) {
                int64_t run = 0;
                for (x = 0; x < w; x++) {
                    run += d[x];
                    acc[x] = prev[0] + run;
                }
            } else if (pred_sel == 2) {
                for (x = 0; x < w; x++) acc[x] = (int64_t)prev[x] + d[x];
            } else if (pred_sel == 3) {
                acc[0] = (int64_t)prev[0] + d[0];
                for (x = 1; x < w; x++)
                    acc[x] = (int64_t)prev[x - 1] + d[x];
            } else if (pred_sel == 4) {
                int64_t run = 0;
                for (x = 0; x < w; x++) {
                    run += d[x];
                    acc[x] = prev[x] + run;
                }
            } else if (pred_sel == 5) {
                int64_t run = (int64_t)d[0];
                acc[0] = prev[0] + run;
                for (x = 1; x < w; x++) {
                    run += d[x] +
                           (((int64_t)prev[x] - prev[x - 1]) >> 1);
                    acc[x] = prev[0] + run;
                }
            } else if (pred_sel == 6) {
                row[0] = (int32_t)(((int64_t)prev[0] + d[0]) & 0xFFFF);
                for (x = 1; x < w; x++) {
                    int64_t px =
                        prev[x] +
                        (((int64_t)row[x - 1] - prev[x - 1]) >> 1);
                    row[x] = (int32_t)((px + d[x]) & 0xFFFF);
                }
                continue;
            } else { /* 7 */
                row[0] = (int32_t)(((int64_t)prev[0] + d[0]) & 0xFFFF);
                for (x = 1; x < w; x++) {
                    int64_t px = ((int64_t)row[x - 1] + prev[x]) >> 1;
                    row[x] = (int32_t)((px + d[x]) & 0xFFFF);
                }
                continue;
            }
            for (x = 0; x < w; x++)
                row[x] = (int32_t)(acc[x] & 0xFFFF);
        }
    }
    free(diff);
    free(acc);
    return 0;
fail:
    free(diff);
    free(acc);
    return br.err;
}

/* --------------------------------------------------- TIFF LZW (§13)
 *
 * Mirrors tiffcodec.lzw_decode / lzw_encode: MSB-first codes from 9
 * bits, Clear=256, EOI=257, EARLY code-width change.  Decode uses the
 * parent-pointer table (prefix, append, first) instead of byte
 * strings; output bytes are identical.
 */
EXPORT int apts_lzw_decode(const uint8_t *data, int64_t n,
                           uint8_t *out, int64_t expected,
                           int64_t *written) {
    int32_t *prefix;
    uint8_t *append, *first, *stack;
    int32_t tlen, width = 9, prev = -1;
    uint32_t acc = 0;
    int32_t nbits = 0;
    int64_t opos = 0, i;
    int rc = 0;
    prefix = (int32_t *)malloc(4096 * sizeof(int32_t));
    append = (uint8_t *)malloc(4096);
    first = (uint8_t *)malloc(4096);
    stack = (uint8_t *)malloc(4100);
    if (!prefix || !append || !first || !stack) {
        rc = 4;
        goto done;
    }
    for (i = 0; i < 258; i++) {
        prefix[i] = -1;
        append[i] = (uint8_t)(i < 256 ? i : 0);
        first[i] = (uint8_t)(i < 256 ? i : 0);
    }
    tlen = 258;
    for (i = 0; i < n; i++) {
        acc = (acc << 8) | data[i];
        nbits += 8;
        while (nbits >= width) {
            int32_t code =
                (int32_t)((acc >> (nbits - width)) &
                          ((1u << width) - 1));
            nbits -= width;
            acc &= (1u << nbits) - 1;
            if (code == 256) {               /* Clear */
                tlen = 258;
                width = 9;
                prev = -1;
                continue;
            }
            if (code == 257) {               /* EOI */
                if (opos < expected) {
                    rc = 23; /* LZW underrun */
                    goto done;
                }
                *written = expected;
                goto done;
            }
            {
                int32_t entry, sp = 0, c;
                uint8_t fb;
                if (prev < 0) {
                    if (code >= tlen) {
                        rc = 21; /* bad first LZW code */
                        goto done;
                    }
                    entry = code;
                } else if (code < tlen) {
                    if (tlen >= 4096) {
                        rc = 25; /* table overflow: Python handles */
                        goto done;
                    }
                    entry = code;
                    prefix[tlen] = prev;
                    append[tlen] = first[code];
                    first[tlen] = first[prev];
                    tlen++;
                } else if (code == tlen) {
                    if (tlen >= 4096) {
                        rc = 25;
                        goto done;
                    }
                    prefix[tlen] = prev;
                    append[tlen] = first[prev];
                    first[tlen] = first[prev];
                    entry = tlen;
                    tlen++;
                } else {
                    rc = 22; /* LZW code out of range */
                    goto done;
                }
                for (c = entry; c >= 0; c = prefix[c])
                    stack[sp++] = append[c];
                fb = 0;
                (void)fb;
                while (sp > 0 && opos < expected)
                    out[opos++] = stack[--sp];
                if (sp > 0) {                /* clipped at expected */
                    opos = expected;
                }
                prev = entry;
                if (tlen == (1 << width) - 1 && width < 12) width++;
                if (opos >= expected) {
                    *written = expected;
                    goto done;
                }
            }
        }
    }
    rc = 24; /* ended without EOI */
done:
    free(prefix);
    free(append);
    free(first);
    free(stack);
    return rc;
}

EXPORT int apts_lzw_encode(const uint8_t *data, int64_t n,
                           uint8_t *out, int64_t cap,
                           int64_t *written) {
    /* open-addressed (prefix, byte) -> code map; 16384 slots for a
     * <= 4094-entry table keeps probes short */
#define LZW_HS 16384
    int32_t *hkey, *hval;
    uint32_t acc = 0;
    int32_t nbits = 0, width = 9, next_code = 258, cur = -1;
    int64_t opos = 0, i;
    int rc = 0;
#define LZW_PUT(codeval)                                              \
    do {                                                              \
        acc = (acc << width) | (uint32_t)(codeval);                   \
        nbits += width;                                               \
        while (nbits >= 8) {                                          \
            if (opos >= cap) {                                        \
                rc = 5;                                               \
                goto done;                                            \
            }                                                         \
            out[opos++] = (uint8_t)((acc >> (nbits - 8)) & 0xFF);     \
            nbits -= 8;                                               \
        }                                                             \
        acc &= (1u << nbits) - 1;                                     \
    } while (0)
    hkey = (int32_t *)malloc(LZW_HS * sizeof(int32_t));
    hval = (int32_t *)malloc(LZW_HS * sizeof(int32_t));
    if (!hkey || !hval) {
        rc = 4;
        goto done;
    }
    memset(hkey, 0xFF, LZW_HS * sizeof(int32_t));
    LZW_PUT(256);                            /* leading Clear */
    for (i = 0; i < n; i++) {
        int32_t byte = data[i];
        if (cur < 0) {
            cur = byte;
            continue;
        }
        {
            int32_t key = (cur << 8) | byte;
            uint32_t slot = ((uint32_t)key * 2654435761u) &
                            (LZW_HS - 1);
            while (hkey[slot] != -1 && hkey[slot] != key)
                slot = (slot + 1) & (LZW_HS - 1);
            if (hkey[slot] == key) {
                cur = hval[slot];
                continue;
            }
            LZW_PUT(cur);
            hkey[slot] = key;
            hval[slot] = next_code;
            next_code++;
            if (next_code == (1 << width) && width < 12) {
                width++;
            } else if (next_code == 4094) {  /* 2^12 - 2: reset */
                LZW_PUT(256);
                memset(hkey, 0xFF, LZW_HS * sizeof(int32_t));
                next_code = 258;
                width = 9;
            }
            cur = byte;
        }
    }
    if (cur >= 0) LZW_PUT(cur);
    LZW_PUT(257);                            /* EOI */
    if (nbits) {
        if (opos >= cap) {
            rc = 5;
            goto done;
        }
        out[opos++] = (uint8_t)((acc << (8 - nbits)) & 0xFF);
    }
    *written = opos;
done:
    free(hkey);
    free(hval);
    return rc;
#undef LZW_PUT
#undef LZW_HS
}

/* -------------------------------------------------- CCITT G4 (T.6)
 *
 * Mirrors ccittcodec's pure-2D path: _Bits/_BitWriter semantics,
 * _decode_2d_row / _encode_2d_row with monotone scan pointers,
 * EOFB trailer on encode.  Run LUTs (8192-entry 13-bit peek) and the
 * T.4 code tables are passed in from the Python module.  Error codes
 * mirror the Python raise sites; callers fall back for exceptions.
 */
typedef struct {
    const uint8_t *d;  /* padded with >= 4 zero bytes by the caller */
    int64_t n;         /* bit count of the REAL data */
    int64_t pos;
    int64_t over;
    int err;
} GBITS;

static inline int gb_skip(GBITS *b, int k) {
    b->pos += k;
    if (b->pos > b->n) {
        b->over += b->pos - b->n;
        if (b->over > 64) {
            b->err = 15; /* truncated CCITT stream */
            return 1;
        }
    }
    return 0;
}

static inline int gb_read(GBITS *b) {
    int bit;
    if (b->pos >= b->n) {
        gb_skip(b, 1);
        return 0;
    }
    bit = (b->d[b->pos >> 3] >> (7 - (b->pos & 7))) & 1;
    b->pos += 1;
    return bit;
}

static inline uint32_t gb_peek13(const GBITS *b) {
    int64_t p = b->pos;
    int64_t byte = p >> 3;
    uint32_t v = ((uint32_t)b->d[byte] << 24) |
                 ((uint32_t)b->d[byte + 1] << 16) |
                 ((uint32_t)b->d[byte + 2] << 8) |
                 (uint32_t)b->d[byte + 3];
    return (v >> (19 - (p & 7))) & 0x1FFF;
}

static int gb_read_run(GBITS *b, int color, const int16_t *wrun,
                       const int8_t *wlen, const int16_t *brun,
                       const int8_t *blen, int32_t *out) {
    int32_t total = 0;
    const int16_t *rt = color ? brun : wrun;
    const int8_t *lt = color ? blen : wlen;
    for (;;) {
        uint32_t peek = gb_peek13(b);
        int32_t run = rt[peek];
        if (run < 0) return 11; /* bad run-length code */
        if (gb_skip(b, lt[peek])) return 15;
        total += run;
        if (run < 64) {
            *out = total;
            return 0;
        }
    }
}

/* one 2D coding line; cur gets ncur entries (no sentinels) */
static int g4_decode_row(GBITS *bits, const int32_t *ref, int32_t nref,
                         int32_t w, int32_t *cur, int32_t *ncur_out,
                         const int16_t *wrun, const int8_t *wlen,
                         const int16_t *brun, const int8_t *blen) {
    int32_t a0 = -1, color = 0, ncur = 0, ri0 = 0;
    while (a0 < w) {
        int32_t ri, b1, b2, a1;
        while (ri0 < nref && ref[ri0] <= a0) ri0++;
        ri = ri0;
        if ((ri & 1) != color) ri++;
        b1 = ri < nref ? ref[ri] : w;
        b2 = ri + 1 < nref ? ref[ri + 1] : w;
        if (gb_read(bits)) {                 /* V0 */
            a1 = b1;
        } else if (gb_read(bits)) {          /* VR1 / VL1 */
            a1 = gb_read(bits) ? b1 + 1 : b1 - 1;
        } else if (gb_read(bits)) {          /* horizontal */
            int32_t a0c = a0 > 0 ? a0 : 0, r1, r2, a2;
            int rc = gb_read_run(bits, color, wrun, wlen, brun, blen,
                                 &r1);
            if (rc) return rc;
            rc = gb_read_run(bits, color ^ 1, wrun, wlen, brun, blen,
                             &r2);
            if (rc) return rc;
            a1 = a0c + r1;
            a2 = a1 + r2;
            if (a2 > w || a1 < a0c) return 12; /* runs overrun line */
            /* zero-length-run streams can repeat entries without
             * advancing a0 — Python's list just grows; the C buffer
             * must hand such streams back instead of overflowing */
            if (ncur + 2 > w + 2) return 16;
            cur[ncur++] = a1 < w ? a1 : w;
            cur[ncur++] = a2 < w ? a2 : w;
            a0 = a2;
            if (bits->err) return bits->err;
            continue;
        } else if (gb_read(bits)) {          /* pass */
            a0 = b2;
            if (bits->err) return bits->err;
            continue;
        } else if (gb_read(bits)) {          /* V2 */
            a1 = gb_read(bits) ? b1 + 2 : b1 - 2;
        } else if (gb_read(bits)) {          /* V3 */
            a1 = gb_read(bits) ? b1 + 3 : b1 - 3;
        } else {
            return 14; /* EOL inside 2D line */
        }
        if (a1 <= a0 || a1 > w) return 13; /* vertical out of line */
        if (ncur + 1 > w + 2) return 16;   /* see horizontal guard */
        cur[ncur++] = a1 < w ? a1 : w;
        a0 = a1;
        color ^= 1;
        if (bits->err) return bits->err;
    }
    *ncur_out = ncur;
    return 0;
}

EXPORT int apts_g4_decode(const uint8_t *data, int64_t nbytes,
                          int32_t w, int32_t h, int32_t byte_align,
                          const int16_t *wrun, const int8_t *wlen,
                          const int16_t *brun, const int8_t *blen,
                          uint8_t *out) {
    GBITS bits;
    int32_t *ref, *cur, nref, y, rc = 0;
    if (w <= 0 || h <= 0) return 3;
    bits.d = data;
    bits.n = nbytes * 8;
    bits.pos = 0;
    bits.over = 0;
    bits.err = 0;
    ref = (int32_t *)malloc(2 * (size_t)(w + 4) * sizeof(int32_t));
    if (!ref) return 4;
    cur = ref + (w + 4);
    ref[0] = w;
    ref[1] = w;
    nref = 2;
    for (y = 0; y < h; y++) {
        int32_t ncur = 0, k, pos = 0, col = 0;
        uint8_t *row = out + (int64_t)y * w;
        if (byte_align) bits.pos = (bits.pos + 7) & ~7;
        rc = g4_decode_row(&bits, ref, nref, w, cur, &ncur, wrun,
                           wlen, brun, blen);
        if (rc) break;
        /* fill row from changing elements */
        memset(row, 0, (size_t)w);
        for (k = 0; k <= ncur; k++) {
            int32_t c = k < ncur ? cur[k] : w;
            if (c > pos && col) memset(row + pos, 1, (size_t)(c - pos));
            pos = c;
            col ^= 1;
            if (pos >= w) break;
        }
        /* cur becomes ref (+ sentinels) */
        memcpy(ref, cur, (size_t)ncur * sizeof(int32_t));
        ref[ncur] = w;
        ref[ncur + 1] = w;
        nref = ncur + 2;
    }
    free(ref);
    return rc;
}

typedef struct {
    uint8_t *out;
    int64_t olen, cap;
    uint32_t buf;
    int32_t nb;
    int err;
} GBW;

static inline void gbw_put(GBW *b, uint32_t val, int ln) {
    b->buf = (b->buf << ln) | val;
    b->nb += ln;
    while (b->nb >= 8) {
        b->nb -= 8;
        if (b->olen >= b->cap) {
            b->err = 5;
            return;
        }
        b->out[b->olen++] = (uint8_t)((b->buf >> b->nb) & 0xFF);
    }
    b->buf &= (1u << b->nb) - 1;
}

static void gbw_put_run(GBW *b, int32_t run, int color,
                        const int8_t *wt_len, const int16_t *wt_val,
                        const int8_t *bt_len, const int16_t *bt_val,
                        const int8_t *wm_len, const int16_t *wm_val,
                        const int8_t *bm_len, const int16_t *bm_val) {
    const int8_t *tl = color ? bt_len : wt_len;
    const int16_t *tv = color ? bt_val : wt_val;
    const int8_t *ml = color ? bm_len : wm_len;
    const int16_t *mv = color ? bm_val : wm_val;
    while (run >= 64) {
        int32_t mk = run & ~63;
        if (mk > 2560) mk = 2560;
        gbw_put(b, (uint32_t)mv[mk / 64 - 1], ml[mk / 64 - 1]);
        run -= mk;
    }
    gbw_put(b, (uint32_t)tv[run], tl[run]);
}

EXPORT int apts_g4_encode(const uint8_t *bitmap, int32_t w, int32_t h,
                          int32_t byte_align, const int8_t *wt_len,
                          const int16_t *wt_val, const int8_t *bt_len,
                          const int16_t *bt_val, const int8_t *wm_len,
                          const int16_t *wm_val, const int8_t *bm_len,
                          const int16_t *bm_val, uint8_t *out,
                          int64_t cap, int64_t *olen) {
    GBW bw;
    int32_t *ref, *cur, nref, ncur, y, x;
    if (w <= 0 || h <= 0) return 3;
    bw.out = out;
    bw.olen = 0;
    bw.cap = cap;
    bw.buf = 0;
    bw.nb = 0;
    bw.err = 0;
    ref = (int32_t *)malloc(2 * (size_t)(w + 4) * sizeof(int32_t));
    if (!ref) return 4;
    cur = ref + (w + 4);
    ref[0] = w;
    ref[1] = w;
    nref = 2;
    for (y = 0; y < h; y++) {
        const uint8_t *row = bitmap + (int64_t)y * w;
        int32_t a0 = -1, color = 0, ci0 = 0, ri0 = 0, prev = 0;
        if (byte_align && bw.nb) gbw_put(&bw, 0, 8 - bw.nb);
        /* changing elements of this row (+ [w, w] sentinels) */
        ncur = 0;
        for (x = 0; x < w; x++) {
            if (row[x] != prev) {
                cur[ncur++] = x;
                prev = row[x];
            }
        }
        cur[ncur] = w;
        cur[ncur + 1] = w;
        while (a0 < w) {
            int32_t ci, ri, a1, a2, b1, b2, d;
            while (ci0 < ncur + 2 && cur[ci0] <= a0) ci0++;
            ci = ci0;
            if ((ci & 1) != color) ci++;
            a1 = ci < ncur + 2 ? cur[ci] : w;
            a2 = ci + 1 < ncur + 2 ? cur[ci + 1] : w;
            while (ri0 < nref && ref[ri0] <= a0) ri0++;
            ri = ri0;
            if ((ri & 1) != color) ri++;
            b1 = ri < nref ? ref[ri] : w;
            b2 = ri + 1 < nref ? ref[ri + 1] : w;
            if (b2 < a1) {
                gbw_put(&bw, 0x1, 4); /* pass */
                a0 = b2;
                continue;
            }
            d = a1 - b1;
            if (d >= -3 && d <= 3) {
                /* mirror of ccittcodec._VCODES: left moves end in 0,
                 * right moves in 1, d=0 is the single 1 bit */
                static const uint16_t vcode[7] = {0x02, 0x02, 0x02,
                                                  0x1, 0x03, 0x03,
                                                  0x03};
                static const uint8_t vlen[7] = {7, 6, 3, 1, 3, 6, 7};
                gbw_put(&bw, vcode[d + 3], vlen[d + 3]);
                a0 = a1;
                color ^= 1;
                continue;
            }
            gbw_put(&bw, 0x1, 3); /* horizontal */
            {
                int32_t a0c = a0 > 0 ? a0 : 0;
                gbw_put_run(&bw, a1 - a0c, color, wt_len, wt_val,
                            bt_len, bt_val, wm_len, wm_val, bm_len,
                            bm_val);
                gbw_put_run(&bw, a2 - a1, color ^ 1, wt_len, wt_val,
                            bt_len, bt_val, wm_len, wm_val, bm_len,
                            bm_val);
                a0 = a2;
            }
            if (bw.err) break;
        }
        if (bw.err) break;
        memcpy(ref, cur, (size_t)(ncur + 2) * sizeof(int32_t));
        nref = ncur + 2;
    }
    if (!bw.err) {
        if (byte_align && bw.nb) gbw_put(&bw, 0, 8 - bw.nb);
        gbw_put(&bw, 0x001, 12); /* EOFB = EOL + EOL */
        gbw_put(&bw, 0x001, 12);
        if (bw.nb) gbw_put(&bw, 0, 8 - bw.nb);
    }
    free(ref);
    if (bw.err) return bw.err;
    *olen = bw.olen;
    return 0;
}

/* --------------------------------------------------- inverse DWTs
 *
 * Mirrors jp2codec.dwt53_inverse / dwt97_inverse (Mallat layout,
 * horizontal reconstruction then vertical per level).  The 9/7 path
 * is float64 with the exact numpy expression trees; the build uses
 * -ffp-contract=off so gcc cannot fuse them into FMAs and drift from
 * the Python results.
 */

/* One horizontal 5/3 line: row[0..sw) = s, row[sw..n) = d. */
static void inv53_row(int64_t *row, int32_t n, int64_t *ev) {
    int32_t sw = (n + 1) / 2, nd = n - sw, i;
    if (n == 1) return;
    for (i = 0; i < sw; i++) {
        int64_t dl = row[sw + (i > 0 ? i - 1 : 0)];
        int64_t dr = row[sw + (i < nd ? i : nd - 1)];
        ev[i] = row[i] - ((dl + dr + 2) >> 2);
    }
    /* ascending is load-bearing: row[2i+1] writes may land on d cells
     * (indices >= sw), but only ones already consumed (2i+1 == sw+j
     * implies j <= i for all i < nd <= sw) */
    for (i = 0; i < nd; i++) {
        int64_t er = ev[i + 1 < sw ? i + 1 : sw - 1];
        row[2 * i + 1] = row[sw + i] + ((ev[i] + er) >> 1);
    }
    for (i = 0; i < sw; i++) row[2 * i] = ev[i];
}

EXPORT int apts_dwt53_inv(int64_t *a, int32_t H, int32_t W,
                          int32_t levels) {
    int32_t dims_h[64], dims_w[64], nd = 0, lv, y, x, i;
    int64_t *tmp, *line;
    int32_t ch = H, cw = W;
    if (H <= 0 || W <= 0 || levels <= 0 || levels > 48) return 3;
    for (lv = 0; lv < levels; lv++) {
        dims_h[nd] = ch;
        dims_w[nd] = cw;
        nd++;
        ch = (ch + 1) / 2;
        cw = (cw + 1) / 2;
    }
    tmp = (int64_t *)malloc((size_t)H * W * sizeof(int64_t));
    line = (int64_t *)malloc((size_t)(H > W ? H : W) * sizeof(int64_t));
    if (!tmp || !line) {
        free(tmp);
        free(line);
        return 4;
    }
    for (lv = nd - 1; lv >= 0; lv--) {
        ch = dims_h[lv];
        cw = dims_w[lv];
        if (ch == 1 && cw == 1) continue;
        if (cw > 1)
            for (y = 0; y < ch; y++)
                inv53_row(a + (int64_t)y * W, cw, line);
        if (ch > 1) {
            int32_t sh = (ch + 1) / 2, vn = ch - sh;
            for (i = 0; i < sh; i++) {
                const int64_t *s = a + (int64_t)i * W;
                const int64_t *dl =
                    a + (int64_t)(sh + (i > 0 ? i - 1 : 0)) * W;
                const int64_t *dr =
                    a + (int64_t)(sh + (i < vn ? i : vn - 1)) * W;
                int64_t *o = tmp + (int64_t)(2 * i) * cw;
                for (x = 0; x < cw; x++)
                    o[x] = s[x] - ((dl[x] + dr[x] + 2) >> 2);
            }
            for (i = 0; i < vn; i++) {
                const int64_t *d = a + (int64_t)(sh + i) * W;
                const int64_t *e0 = tmp + (int64_t)(2 * i) * cw;
                const int64_t *e1 =
                    tmp + (int64_t)(2 * (i + 1 < sh ? i + 1 : sh - 1)) *
                              cw;
                int64_t *o = tmp + (int64_t)(2 * i + 1) * cw;
                for (x = 0; x < cw; x++)
                    o[x] = d[x] + ((e0[x] + e1[x]) >> 1);
            }
            for (y = 0; y < ch; y++)
                memcpy(a + (int64_t)y * W, tmp + (int64_t)y * cw,
                       (size_t)cw * sizeof(int64_t));
        }
    }
    free(tmp);
    free(line);
    return 0;
}

/* One horizontal forward 5/3 line: interleaved row -> [s | d]. */
static void fwd53_row(int64_t *row, int32_t n, int64_t *work) {
    int32_t sw = (n + 1) / 2, nd = n - sw, i;
    int64_t *ev = work, *d = work + sw;
    if (n == 1) return;
    for (i = 0; i < sw; i++) ev[i] = row[2 * i];
    for (i = 0; i < nd; i++) {
        int64_t er = ev[i + 1 < sw ? i + 1 : sw - 1];
        d[i] = row[2 * i + 1] - ((ev[i] + er) >> 1);
    }
    for (i = 0; i < sw; i++) {
        int64_t dl = d[i > 0 ? i - 1 : 0];
        int64_t dr = d[i < nd ? i : nd - 1];
        row[i] = ev[i] + ((dl + dr + 2) >> 2);
    }
    memcpy(row + sw, d, (size_t)nd * sizeof(int64_t));
}

EXPORT int apts_dwt53_fwd(int64_t *a, int32_t H, int32_t W,
                          int32_t levels) {
    int32_t ch = H, cw = W, lv, y, x, i;
    int64_t *tmp, *line;
    if (H <= 0 || W <= 0 || levels <= 0 || levels > 48) return 3;
    tmp = (int64_t *)malloc((size_t)H * W * sizeof(int64_t));
    line = (int64_t *)malloc(2 * (size_t)(H > W ? H : W) *
                             sizeof(int64_t));
    if (!tmp || !line) {
        free(tmp);
        free(line);
        return 4;
    }
    for (lv = 0; lv < levels; lv++) {
        if (ch == 1 && cw == 1) break;
        /* vertical split first (mirrors _fwd53_axis0 on the block) */
        if (ch > 1) {
            int32_t sh = (ch + 1) / 2, vn = ch - sh;
            for (i = 0; i < vn; i++) {
                const int64_t *od = a + (int64_t)(2 * i + 1) * W;
                const int64_t *e0 = a + (int64_t)(2 * i) * W;
                const int64_t *e1 =
                    a + (int64_t)(2 * (i + 1) < ch ? 2 * (i + 1)
                                                   : 2 * (sh - 1)) *
                            W;
                int64_t *o = tmp + (int64_t)(sh + i) * cw;
                for (x = 0; x < cw; x++)
                    o[x] = od[x] - ((e0[x] + e1[x]) >> 1);
            }
            for (i = 0; i < sh; i++) {
                const int64_t *ev = a + (int64_t)(2 * i) * W;
                const int64_t *dl =
                    tmp + (int64_t)(sh + (i > 0 ? i - 1 : 0)) * cw;
                const int64_t *dr =
                    tmp + (int64_t)(sh + (i < vn ? i : vn - 1)) * cw;
                int64_t *o = tmp + (int64_t)i * cw;
                for (x = 0; x < cw; x++)
                    o[x] = ev[x] + ((dl[x] + dr[x] + 2) >> 2);
            }
            for (y = 0; y < ch; y++)
                memcpy(a + (int64_t)y * W, tmp + (int64_t)y * cw,
                       (size_t)cw * sizeof(int64_t));
        }
        if (cw > 1)
            for (y = 0; y < ch; y++)
                fwd53_row(a + (int64_t)y * W, cw, line);
        ch = (ch + 1) / 2;
        cw = (cw + 1) / 2;
    }
    free(tmp);
    free(line);
    return 0;
}

/* One horizontal forward 9/7 line: interleaved row -> [s | d]. */
static void fwd97_row(double *row, int32_t n, double ka, double kb,
                      double kg, double kd, double kk, double *work) {
    int32_t sw = (n + 1) / 2, nd = n - sw, i;
    double *s = work, *d = work + sw;
    if (n == 1) return;
    for (i = 0; i < sw; i++) s[i] = row[2 * i];
    for (i = 0; i < nd; i++) {
        double er = s[i + 1 < sw ? i + 1 : sw - 1];
        d[i] = row[2 * i + 1] + ka * (s[i] + er);
    }
    for (i = 0; i < sw; i++) {
        double dl = d[i > 0 ? i - 1 : 0];
        double dr = d[i < nd ? i : nd - 1];
        s[i] = s[i] + kb * (dl + dr);
    }
    for (i = 0; i < nd; i++) {
        double sr = s[i + 1 < sw ? i + 1 : sw - 1];
        d[i] = d[i] + kg * (s[i] + sr);
    }
    for (i = 0; i < sw; i++) {
        double dl = d[i > 0 ? i - 1 : 0];
        double dr = d[i < nd ? i : nd - 1];
        s[i] = s[i] + kd * (dl + dr);
    }
    for (i = 0; i < sw; i++) row[i] = s[i] / kk;
    for (i = 0; i < nd; i++) row[sw + i] = d[i] * kk;
}

EXPORT int apts_dwt97_fwd(double *a, int32_t H, int32_t W,
                          int32_t levels, double ka, double kb,
                          double kg, double kd, double kk) {
    int32_t ch = H, cw = W, lv, y, x, i;
    double *tmp, *line;
    if (H <= 0 || W <= 0 || levels <= 0 || levels > 48) return 3;
    tmp = (double *)malloc((size_t)H * W * sizeof(double));
    line = (double *)malloc(2 * (size_t)(H > W ? H : W) *
                            sizeof(double));
    if (!tmp || !line) {
        free(tmp);
        free(line);
        return 4;
    }
    for (lv = 0; lv < levels; lv++) {
        if (ch == 1 && cw == 1) break;
        if (ch > 1) {
            int32_t sh = (ch + 1) / 2, vn = ch - sh;
            double *sv = tmp, *dv = tmp + (int64_t)sh * cw;
            for (i = 0; i < vn; i++) {
                const double *od = a + (int64_t)(2 * i + 1) * W;
                const double *e0 = a + (int64_t)(2 * i) * W;
                const double *e1 =
                    a + (int64_t)(2 * (i + 1) < ch ? 2 * (i + 1)
                                                   : 2 * (sh - 1)) *
                            W;
                double *o = dv + (int64_t)i * cw;
                for (x = 0; x < cw; x++)
                    o[x] = od[x] + ka * (e0[x] + e1[x]);
            }
            for (i = 0; i < sh; i++) {
                const double *ev = a + (int64_t)(2 * i) * W;
                const double *dl =
                    dv + (int64_t)(i > 0 ? i - 1 : 0) * cw;
                const double *dr =
                    dv + (int64_t)(i < vn ? i : vn - 1) * cw;
                double *o = sv + (int64_t)i * cw;
                for (x = 0; x < cw; x++)
                    o[x] = ev[x] + kb * (dl[x] + dr[x]);
            }
            for (i = 0; i < vn; i++) {
                const double *s0 = sv + (int64_t)i * cw;
                const double *s1 =
                    sv + (int64_t)(i + 1 < sh ? i + 1 : sh - 1) * cw;
                double *o = dv + (int64_t)i * cw;
                for (x = 0; x < cw; x++)
                    o[x] = o[x] + kg * (s0[x] + s1[x]);
            }
            for (i = 0; i < sh; i++) {
                const double *dl =
                    dv + (int64_t)(i > 0 ? i - 1 : 0) * cw;
                const double *dr =
                    dv + (int64_t)(i < vn ? i : vn - 1) * cw;
                double *o = sv + (int64_t)i * cw;
                for (x = 0; x < cw; x++)
                    o[x] = o[x] + kd * (dl[x] + dr[x]);
            }
            for (i = 0; i < sh; i++) {
                const double *s0 = sv + (int64_t)i * cw;
                double *o = a + (int64_t)i * W;
                for (x = 0; x < cw; x++) o[x] = s0[x] / kk;
            }
            for (i = 0; i < vn; i++) {
                const double *d0 = dv + (int64_t)i * cw;
                double *o = a + (int64_t)(sh + i) * W;
                for (x = 0; x < cw; x++) o[x] = d0[x] * kk;
            }
        }
        if (cw > 1)
            for (y = 0; y < ch; y++)
                fwd97_row(a + (int64_t)y * W, cw, ka, kb, kg, kd, kk,
                          line);
        ch = (ch + 1) / 2;
        cw = (cw + 1) / 2;
    }
    free(tmp);
    free(line);
    return 0;
}

/* One horizontal 9/7 line; work holds 2*n doubles (s then od). */
static void inv97_row(double *row, int32_t n, double ka, double kb,
                      double kg, double kd, double kk, double *work) {
    int32_t sw = (n + 1) / 2, ndd = n - sw, i;
    double *s = work, *d = work + sw;
    if (n == 1) return;
    for (i = 0; i < sw; i++) s[i] = row[i] * kk;
    for (i = 0; i < ndd; i++) d[i] = row[sw + i] / kk;
    for (i = 0; i < sw; i++) {
        double dl = d[i > 0 ? i - 1 : 0];
        double dr = d[i < ndd ? i : ndd - 1];
        s[i] = s[i] - kd * (dl + dr);
    }
    for (i = 0; i < ndd; i++) {
        double sr = s[i + 1 < sw ? i + 1 : sw - 1];
        d[i] = d[i] - kg * (s[i] + sr);
    }
    for (i = 0; i < sw; i++) {
        double dl = d[i > 0 ? i - 1 : 0];
        double dr = d[i < ndd ? i : ndd - 1];
        s[i] = s[i] - kb * (dl + dr);
    }
    for (i = 0; i < ndd; i++) {
        double sr = s[i + 1 < sw ? i + 1 : sw - 1];
        row[2 * i + 1] = d[i] - ka * (s[i] + sr);
    }
    for (i = 0; i < sw; i++) row[2 * i] = s[i];
}

EXPORT int apts_dwt97_inv(double *a, int32_t H, int32_t W,
                          int32_t levels, double ka, double kb,
                          double kg, double kd, double kk) {
    int32_t dims_h[64], dims_w[64], nd = 0, lv, y, x, i;
    double *tmp, *line;
    int32_t ch = H, cw = W;
    if (H <= 0 || W <= 0 || levels <= 0 || levels > 48) return 3;
    for (lv = 0; lv < levels; lv++) {
        dims_h[nd] = ch;
        dims_w[nd] = cw;
        nd++;
        ch = (ch + 1) / 2;
        cw = (cw + 1) / 2;
    }
    tmp = (double *)malloc((size_t)H * W * sizeof(double));
    line = (double *)malloc(2 * (size_t)(H > W ? H : W) *
                            sizeof(double));
    if (!tmp || !line) {
        free(tmp);
        free(line);
        return 4;
    }
    for (lv = nd - 1; lv >= 0; lv--) {
        ch = dims_h[lv];
        cw = dims_w[lv];
        if (ch == 1 && cw == 1) continue;
        if (cw > 1)
            for (y = 0; y < ch; y++)
                inv97_row(a + (int64_t)y * W, cw, ka, kb, kg, kd, kk,
                          line);
        if (ch > 1) {
            /* vertical: same lifting with whole-row operations so the
             * float64 expression per element matches the row path */
            int32_t sh = (ch + 1) / 2, vn = ch - sh;
            double *sv = tmp, *dv = tmp + (int64_t)sh * cw;
            for (i = 0; i < sh; i++) {
                const double *r = a + (int64_t)i * W;
                double *o = sv + (int64_t)i * cw;
                for (x = 0; x < cw; x++) o[x] = r[x] * kk;
            }
            for (i = 0; i < vn; i++) {
                const double *r = a + (int64_t)(sh + i) * W;
                double *o = dv + (int64_t)i * cw;
                for (x = 0; x < cw; x++) o[x] = r[x] / kk;
            }
            for (i = 0; i < sh; i++) {
                const double *dl = dv + (int64_t)(i > 0 ? i - 1 : 0) * cw;
                const double *dr =
                    dv + (int64_t)(i < vn ? i : vn - 1) * cw;
                double *o = sv + (int64_t)i * cw;
                for (x = 0; x < cw; x++)
                    o[x] = o[x] - kd * (dl[x] + dr[x]);
            }
            for (i = 0; i < vn; i++) {
                const double *s0 = sv + (int64_t)i * cw;
                const double *s1 =
                    sv + (int64_t)(i + 1 < sh ? i + 1 : sh - 1) * cw;
                double *o = dv + (int64_t)i * cw;
                for (x = 0; x < cw; x++)
                    o[x] = o[x] - kg * (s0[x] + s1[x]);
            }
            for (i = 0; i < sh; i++) {
                const double *dl = dv + (int64_t)(i > 0 ? i - 1 : 0) * cw;
                const double *dr =
                    dv + (int64_t)(i < vn ? i : vn - 1) * cw;
                double *o = sv + (int64_t)i * cw;
                for (x = 0; x < cw; x++)
                    o[x] = o[x] - kb * (dl[x] + dr[x]);
            }
            for (i = 0; i < vn; i++) {
                const double *s0 = sv + (int64_t)i * cw;
                const double *s1 =
                    sv + (int64_t)(i + 1 < sh ? i + 1 : sh - 1) * cw;
                double *o = a + (int64_t)(2 * i + 1) * W;
                const double *dd = dv + (int64_t)i * cw;
                for (x = 0; x < cw; x++)
                    o[x] = dd[x] - ka * (s0[x] + s1[x]);
            }
            for (i = 0; i < sh; i++) {
                const double *s0 = sv + (int64_t)i * cw;
                double *o = a + (int64_t)(2 * i) * W;
                for (x = 0; x < cw; x++) o[x] = s0[x];
            }
        }
    }
    free(tmp);
    free(line);
    return 0;
}

/* ------------------------------------------------------------------ */
/* Separable Gaussian correlation along one axis of a 2-D float64     */
/* array — the hot stage of kernels/noise.py::gaussian_filter (the    */
/* MRC sink's pre-blur, mrc.py:311).  Bit-exact mirror of the numpy   */
/* formulation there: np.pad mode='reflect' boundary (period 2n-2     */
/* folding, single-sample axes repeat), accumulation order k          */
/* ascending per element starting from 0.0, no FMA (-ffp-contract=    */
/* off).  axis 1 = along rows, axis 0 = down columns (both walk the   */
/* array row-major; the column variant accumulates whole rows so the  */
/* inner loop stays contiguous).  rc 3 = bad dims, 4 = alloc.         */

static int64_t gauss_fold(int64_t j, int64_t n) {
    if (n == 1) return 0;
    while (j < 0 || j >= n) {
        if (j < 0)
            j = -j;
        else
            j = 2 * (n - 1) - j;
    }
    return j;
}

EXPORT int apts_gauss_axis(const double *in, double *out, int64_t h,
                           int64_t w, int32_t axis,
                           const double *kern, int32_t klen) {
    int64_t r = (int64_t)(klen - 1) / 2, y, x, m;
    int32_t k;
    if (h <= 0 || w <= 0 || klen <= 0 || !(klen & 1)) return 3;
    if (axis == 1) {
        int64_t *idx = (int64_t *)malloc(
            (size_t)(w + klen - 1) * sizeof(int64_t));
        if (!idx) return 4;
        for (m = 0; m < w + klen - 1; m++)
            idx[m] = gauss_fold(m - r, w);
        /* interior columns read contiguously (idx[m+k] == m+k-r
         * there) — keep the folded-index walk only for the two
         * boundary strips so the hot loop vectorizes */
        int64_t lo = r < w ? r : w, hi = w - r > lo ? w - r : lo;
        for (y = 0; y < h; y++) {
            const double *row = in + y * w;
            double *orow = out + y * w;
            for (m = 0; m < lo; m++) {
                double acc = 0.0;
                for (k = 0; k < klen; k++)
                    acc += kern[k] * row[idx[m + k]];
                orow[m] = acc;
            }
            for (m = lo; m < hi; m++) {
                const double *src = row + m - r;
                double acc = 0.0;
                for (k = 0; k < klen; k++) acc += kern[k] * src[k];
                orow[m] = acc;
            }
            for (m = hi; m < w; m++) {
                double acc = 0.0;
                for (k = 0; k < klen; k++)
                    acc += kern[k] * row[idx[m + k]];
                orow[m] = acc;
            }
        }
        free(idx);
        return 0;
    }
    if (axis != 0) return 3;
    for (y = 0; y < h; y++) {
        double *orow = out + y * w;
        for (x = 0; x < w; x++) orow[x] = 0.0;
        for (k = 0; k < klen; k++) {
            const double *src = in + gauss_fold(y + k - r, h) * w;
            double coef = kern[k];
            for (x = 0; x < w; x++) orow[x] += coef * src[x];
        }
    }
    return 0;
}

/* ------------------------------------------------------------------ */
/* PNG scanline unfilter, whole sub-image per call — mirror of        */
/* pngcodec._unfilter_image (published predictor algorithms; filters  */
/* 0 None / 1 Sub / 2 Up / 3 Average / 4 Paeth).  The Average/Paeth   */
/* rows are inherently sequential along x and sat at the CPython      */
/* per-byte floor.  rc: 3 bad dims, 7 input short, 8 unknown filter   */
/* (caller falls back to Python, which raises the typed PngError).    */

EXPORT int apts_png_unfilter(const uint8_t *raw, int64_t rawlen,
                             int64_t pos, int64_t h, int64_t rowbytes,
                             int32_t bpp, uint8_t *out) {
    int64_t y, i;
    if (h < 0 || rowbytes <= 0 || bpp <= 0) return 3;
    if (rawlen - pos < h * (1 + rowbytes)) return 7;
    for (y = 0; y < h; y++) {
        uint8_t ft = raw[pos];
        const uint8_t *row = raw + pos + 1;
        uint8_t *cur = out + y * rowbytes;
        const uint8_t *pv = y ? out + (y - 1) * rowbytes : NULL;
        pos += 1 + rowbytes;
        switch (ft) {
        case 0:
            memcpy(cur, row, (size_t)rowbytes);
            break;
        case 1:
            for (i = 0; i < (bpp < rowbytes ? bpp : rowbytes); i++)
                cur[i] = row[i];
            for (; i < rowbytes; i++)
                cur[i] = (uint8_t)(row[i] + cur[i - bpp]);
            break;
        case 2:
            if (pv)
                for (i = 0; i < rowbytes; i++)
                    cur[i] = (uint8_t)(row[i] + pv[i]);
            else
                memcpy(cur, row, (size_t)rowbytes);
            break;
        case 3:
            for (i = 0; i < rowbytes; i++) {
                int left = i >= bpp ? cur[i - bpp] : 0;
                int up = pv ? pv[i] : 0;
                cur[i] = (uint8_t)(row[i] + ((left + up) >> 1));
            }
            break;
        case 4:
            for (i = 0; i < rowbytes; i++) {
                int a = i >= bpp ? cur[i - bpp] : 0;
                int b = pv ? pv[i] : 0;
                int c = (pv && i >= bpp) ? pv[i - bpp] : 0;
                int p = a + b - c;
                int pa = p > a ? p - a : a - p;
                int pb = p > b ? p - b : b - p;
                int pc = p > c ? p - c : c - p;
                int pr = (pa <= pb && pa <= pc) ? a
                                                : (pb <= pc ? b : c);
                cur[i] = (uint8_t)(row[i] + pr);
            }
            break;
        default:
            return 8;
        }
    }
    return 0;
}

/* ================= mask denoise (optimiser.pyx:436-472 semantics) ====
 *
 * Raster-order scan with feedback: a pixel is kept only when its
 * (2n+1)^2 window holds >= mincnt OTHER set pixels, counted over the
 * mask as already modified by earlier (raster-order) clears — the
 * same sequential semantics as kernels/optimise.py::
 * fast_mask_denoise_slow (the reference transcription).  Incremental
 * column sums + a sliding row sum make it O(h*w); clears decrement
 * both running sums so the feedback stays exact.  Operates on the
 * whole (B, h, w) batch in one call.  */
EXPORT int apts_mask_denoise(uint8_t *m, int32_t B, int32_t h,
                             int32_t w, int32_t mincnt, int32_t n) {
    int32_t b, y, x;
    int32_t *colsum;
    if (B <= 0 || h <= 0 || w <= 0 || n < 0 || n > 16384) return 3;
    /* n == 0 is NOT a no-op: the window is the pixel itself, so every
     * set pixel is kept iff 0 >= mincnt — the loop below handles it. */
    if (h <= 2 * n || w <= 2 * n) return 0;
    colsum = (int32_t *)malloc((size_t)w * 4);
    if (!colsum) return 4;
    for (b = 0; b < B; b++) {
        uint8_t *pg = m + (int64_t)b * h * w;
        for (x = 0; x < w; x++) {
            int32_t s = 0;
            for (y = 0; y <= 2 * n; y++) s += pg[(int64_t)y * w + x] ? 1 : 0;
            colsum[x] = s;
        }
        for (y = n; y < h - n; y++) {
            int64_t cnt = 0;
            uint8_t *row = pg + (int64_t)y * w;
            if (y > n) {
                const uint8_t *add = pg + (int64_t)(y + n) * w;
                const uint8_t *sub = pg + (int64_t)(y - n - 1) * w;
                for (x = 0; x < w; x++)
                    colsum[x] += (add[x] ? 1 : 0) - (sub[x] ? 1 : 0);
            }
            for (x = 0; x < 2 * n; x++) cnt += colsum[x];
            for (x = n; x < w - n; x++) {
                cnt += colsum[x + n];
                if (row[x] && cnt - 1 < mincnt) {
                    row[x] = 0;
                    colsum[x] -= 1;
                    cnt -= 1;
                }
                cnt -= colsum[x - n];
            }
        }
    }
    free(colsum);
    return 0;
}

/* ============== Daubechies-2 HH band (noise.py::estimate_sigma) ======
 *
 * Single-level DWT high-pass along rows then columns, symmetric pad by
 * klen-1, correlate, downsample by 2 starting at index 1 — the exact
 * element/accumulation order of kernels/noise.py::_dwt_axis (taps
 * ascending, float64), so results are bit-identical to the NumPy
 * path.  out must hold ((h+klen-1)/2) * ((w+klen-1)/2) doubles.  */
static inline int64_t dwt_fold(int64_t i, int64_t nn) {
    /* np.pad mode='symmetric' (edge-inclusive reflection, repeated) */
    while (i < 0 || i >= nn) {
        if (i < 0) i = -1 - i;
        if (i >= nn) i = 2 * nn - 1 - i;
    }
    return i;
}

EXPORT int apts_dwt2_hh(const double *in, int64_t h, int64_t w,
                        const double *filt, int32_t klen, double *out) {
    int64_t oh, ow, y, x, mm;
    int32_t k;
    double *tmp;
    if (h <= 0 || w <= 0 || klen <= 1 || klen > 64) return 3;
    oh = (h + klen - 1) / 2;
    ow = (w + klen - 1) / 2;
    tmp = (double *)malloc((size_t)(oh * w) * sizeof(double));
    if (!tmp) return 4;
    /* axis 0: out[m, x] = sum_k f[k] * in_pad[1 + 2m + k, x]
     * (pad offset: padded index p maps to source index p - (klen-1)) */
    for (mm = 0; mm < oh; mm++) {
        double *orow = tmp + mm * w;
        for (x = 0; x < w; x++) orow[x] = 0.0;
        for (k = 0; k < klen; k++) {
            const double *src =
                in + dwt_fold(1 + 2 * mm + k - (klen - 1), h) * w;
            double coef = filt[k];
            for (x = 0; x < w; x++) orow[x] += coef * src[x];
        }
    }
    /* axis 1 over tmp rows */
    for (y = 0; y < oh; y++) {
        const double *row = tmp + y * w;
        double *orow = out + y * ow;
        for (mm = 0; mm < ow; mm++) {
            double acc = 0.0;
            for (k = 0; k < klen; k++)
                acc += filt[k] * row[dwt_fold(1 + 2 * mm + k - (klen - 1),
                                              w)];
            orow[mm] = acc;
        }
    }
    free(tmp);
    return 0;
}

/* ============== box-mean downsample (pages.py::downsample_box) ======
 *
 * Integer area mapping: output pixel (ty, tx) averages source rows
 * [ty*h/h_t, (ty+1)*h/h_t) x cols [tx*w/w_t, (tx+1)*w/w_t), int64
 * accumulation, floor division by the box pixel count — exactly the
 * reduceat + // expression in pages.py, without the h*w*8-byte int64
 * materialization.  */
EXPORT int apts_box_downsample(const uint8_t *img, int64_t h, int64_t w,
                               int32_t ch, int64_t h_t, int64_t w_t,
                               uint8_t *out) {
    int64_t *acc, *xmap;
    int64_t y, x, ty, tx;
    int32_t c;
    if (h <= 0 || w <= 0 || h_t <= 0 || w_t <= 0 || h_t > h || w_t > w ||
        ch < 1 || ch > 4)
        return 3;
    acc = (int64_t *)calloc((size_t)(w_t * ch), 8);
    xmap = (int64_t *)malloc((size_t)w * 8);
    if (!acc || !xmap) {
        free(acc);
        free(xmap);
        return 4;
    }
    for (x = 0; x < w; x++) {
        /* inverse of xs[j] = j*w/w_t: col x belongs to the last j with
         * j*w/w_t <= x, i.e. j = (x*w_t + w_t - 1) / w ... derive by
         * scan instead to stay exactly on the integer-edge contract */
        xmap[x] = -1;
    }
    for (tx = 0; tx < w_t; tx++) {
        int64_t x0 = tx * w / w_t, x1 = (tx + 1) * w / w_t;
        for (x = x0; x < x1; x++) xmap[x] = tx;
    }
    for (ty = 0; ty < h_t; ty++) {
        int64_t y0 = ty * h / h_t, y1 = (ty + 1) * h / h_t;
        int64_t rows = y1 - y0;
        memset(acc, 0, (size_t)(w_t * ch) * 8);
        for (y = y0; y < y1; y++) {
            const uint8_t *row = img + (y * w) * ch;
            for (x = 0; x < w; x++) {
                int64_t *a = acc + xmap[x] * ch;
                for (c = 0; c < ch; c++) a[c] += row[(int64_t)x * ch + c];
            }
        }
        for (tx = 0; tx < w_t; tx++) {
            int64_t x0 = tx * w / w_t, x1 = (tx + 1) * w / w_t;
            int64_t cnt = rows * (x1 - x0);
            uint8_t *o = out + (ty * w_t + tx) * ch;
            for (c = 0; c < ch; c++)
                o[c] = (uint8_t)(acc[tx * ch + c] / cnt);
        }
    }
    free(acc);
    free(xmap);
    return 0;
}

/* ------------------------------------------------ hOCR text layer
 *
 * The Tm/Td/Tf/Tz/TJ op stream of kernels/textlayer.py::
 * _render_text_layer_py, op for op.  The caller packs one page in
 * traversal order (paragraphs without ink already dropped):
 *
 *   iv: n_paras, then per paragraph n_lines; per line n_words and a
 *       flag "left/right/bottom/slope/intercept are all Python ints";
 *       per word a flag "fontsize is a Python int"
 *   dv: per line left, right, bottom, slope, intercept; per word
 *       x1, y1, x2, y2, fontsize, writing direction
 *   blob: the words' UTF-16BE hex payloads (kept codepoints plus the
 *       synthetic space), joined by single spaces
 *
 * Python does the geometry on exact ints where the JSON gave ints; the
 * kernel reproduces that only while every coordinate stays below 2^24
 * (all products then stay exact in a double), and it declines (returns
 * 1, the caller re-runs the page in Python) any page with a value it
 * cannot reproduce: non-finite intermediates (where Python raises
 * ValueError/OverflowError/ZeroDivisionError or prints "nan"), a float
 * font size whose repr is not fixed-point, or a non-'.' decimal point.
 * math calls go through volatile pointers so the compiler can neither
 * fuse sin/cos into sincos nor turn pow(x, 0.5) into sqrt: Python
 * calls each libm function by itself.
 */
#include <locale.h>
#include <stdio.h>

static double (*volatile tl_sin)(double) = sin;
static double (*volatile tl_cos)(double) = cos;
static double (*volatile tl_atan2)(double, double) = atan2;
static double (*volatile tl_pow)(double, double) = pow;

#define TL_EXACT 16777216.0     /* 2^24 */

typedef struct {
    uint8_t *buf;
    int64_t cap, n;
} TLOut;

static void tl_put(TLOut *o, const char *s, int64_t len) {
    if (o->n + len <= o->cap) memcpy(o->buf + o->n, s, (size_t)len);
    o->n += len;
}

#define TL_LIT(o, s) tl_put((o), (s), (int64_t)sizeof(s) - 1)

/* textlayer.prec keeps round(x * 1000) (half to even); Python's round
 * raises on inf/nan: decline.  The value is then that integer / 1000. */
static int tl_prec_k(double x, double *k) {
    double s = x * 1000.0;
    if (!isfinite(s)) return 1;
    *k = rint(s);
    return 0;
}

/* textlayer.floatbytes(k / 1000, digits) for digits >= 3.  Below 1e7
 * the double nearest k/1000 is within 2^-30 of it, so "%.<digits>f"
 * prints k/1000 exactly: write its digits directly.  Beyond that,
 * format the double (both sides round exactly).  prec folds -0 to 0,
 * so a zero k prints unsigned. */
static void tl_milli(TLOut *o, double k, int digits) {
    char tmp[400];
    int len = 0;
    if (fabs(k) < 1e10) {
        long long q = (long long)k, ip;
        char rev[16];
        int nr = 0;
        if (q < 0) {
            tmp[len++] = '-';
            q = -q;
        }
        ip = q / 1000;
        do {
            rev[nr++] = (char)('0' + ip % 10);
            ip /= 10;
        } while (ip);
        while (nr) tmp[len++] = rev[--nr];
        tmp[len++] = '.';
        tmp[len++] = (char)('0' + q / 100 % 10);
        tmp[len++] = (char)('0' + q / 10 % 10);
        tmp[len++] = (char)('0' + q % 10);
        for (int i = 3; i < digits; i++) tmp[len++] = '0';
    } else {
        double a = k / 1000.0;
        len = snprintf(tmp, sizeof tmp, "%.*f", digits, a == 0 ? 0.0 : a);
    }
    tl_put(o, tmp, len);
}

static int tl_prec_fixed(TLOut *o, double v) {
    double k;
    if (tl_prec_k(v, &k)) return 1;
    tl_milli(o, k, 8);
    return 0;
}

typedef unsigned __int128 tl_u128;

static tl_u128 tl_p10(int n) {        /* 0 <= n <= 20 */
    static const uint64_t p10[20] = {
        1ULL, 10ULL, 100ULL, 1000ULL, 10000ULL, 100000ULL, 1000000ULL,
        10000000ULL, 100000000ULL, 1000000000ULL, 10000000000ULL,
        100000000000ULL, 1000000000000ULL, 10000000000000ULL,
        100000000000000ULL, 1000000000000000ULL, 10000000000000000ULL,
        100000000000000000ULL, 1000000000000000000ULL,
        10000000000000000000ULL};
    return n < 20 ? (tl_u128)p10[n] : (tl_u128)p10[19] * 10;
}

/* str(v) of a positive finite Python float: repr's shortest digit
 * string that reads back as v, in fixed-point.  Exact integer
 * arithmetic on v = m / 2^sh: the shortest string is the correctly
 * rounded one at the first precision that reads back, and any string
 * of 15 or fewer digits is the 15-digit rounding with its trailing
 * zeros stripped.  Declines where repr would use an exponent
 * (v < 1e-4 or v >= 1e16; this kernel stops at 1e15), and at 16-17
 * digits for a power of two, whose lopsided rounding interval can make
 * the shortest string other than the nearest one. */
static int tl_float_repr(TLOut *o, double v) {
    char dig[24], res[48];
    int ex, sh, E, p, nd = 0, decpt, i, k = 0;
    uint64_t m;
    tl_u128 D = 0;
    if (!(v >= 1e-4 && v < 1e15)) return 1;
    m = (uint64_t)ldexp(frexp(v, &ex), 53);
    sh = 53 - ex;                     /* v = m / 2^sh, 3 <= sh <= 66 */
    E = (int)floor(log10(v));
    for (;;) {                        /* exact: 10^E <= v < 10^(E+1) */
        tl_u128 t;
        if (E < -4 || E > 14) return 1;
        t = ((tl_u128)m * tl_p10(16 - E)) >> sh;
        if (t >= tl_p10(17)) E++;
        else if (t < tl_p10(16)) E--;
        else break;
    }
    for (p = 15; p <= 17; p++) {
        int S = p - 1 - E;            /* D / 10^S approximates v */
        tl_u128 B = (tl_u128)m * tl_p10(S), A, diff, lim = tl_p10(S);
        tl_u128 rem = B & (((tl_u128)1 << sh) - 1);
        tl_u128 half = (tl_u128)1 << (sh - 1);
        int below;
        if (p >= 16 && m == (1ULL << 52)) return 1;
        D = B >> sh;                  /* round half to even */
        if (rem > half || (rem == half && (D & 1))) D++;
        /* reads back iff |D/10^S - v| is within half an ulp (2^-sh),
         * ties to even m; below a power of two the gap halves */
        A = D << sh;
        below = A < B;
        diff = 2 * (below ? B - A : A - B);
        if (below && m == (1ULL << 52)) diff *= 2;
        if (diff < lim || (diff == lim && !(m & 1))) break;
    }
    if (p > 17) return 1;
    if (D == tl_p10(p)) {             /* rounded up to the next decade */
        D = tl_p10(p - 1);
        E++;
    }
    for (i = p - 1; i >= 0; i--) {
        dig[i] = (char)('0' + (int)(D % 10));
        D /= 10;
    }
    nd = p;
    while (nd > 1 && dig[nd - 1] == '0') nd--;
    decpt = E + 1;
    if (decpt <= 0) {
        res[k++] = '0';
        res[k++] = '.';
        for (i = 0; i < -decpt; i++) res[k++] = '0';
        for (i = 0; i < nd; i++) res[k++] = dig[i];
    } else if (decpt >= nd) {
        for (i = 0; i < nd; i++) res[k++] = dig[i];
        for (i = nd; i < decpt; i++) res[k++] = '0';
        res[k++] = '.';
        res[k++] = '0';
    } else {
        for (i = 0; i < decpt; i++) res[k++] = dig[i];
        res[k++] = '.';
        for (i = decpt; i < nd; i++) res[k++] = dig[i];
    }
    tl_put(o, res, k);
    return 0;
}

/* Returns 0 (out_len = bytes the stream needs; the caller retries
 * with a bigger buffer when that exceeds cap), 1 = decline,
 * 2 = malformed pack. */
EXPORT int32_t apts_text_layer(const int32_t *iv, int64_t ni,
                               const double *dv, int64_t nd,
                               const uint8_t *blob, int64_t nb,
                               double width, double height, double ppi,
                               double scale, int32_t scale_mode,
                               uint8_t *out, int64_t cap,
                               int64_t *out_len) {
    TLOut o = {out, cap, 0};
    const struct lconv *lc = localeconv();
    int64_t ii = 0, di = 0, bi = 0;
    int32_t n_paras, p;
    double cur_x = 0.0, cur_y = 0.0, cur_dir = 1.0;
    double ra = 1.0, rb = 0.0, rc = 0.0, rd = 1.0;
    double s0 = 0, s1 = 0, s2 = 0, s3 = 0, seg_dir = 1.0;
    int seg_int = 0;
    double v;

    if (lc->decimal_point[0] != '.' || lc->decimal_point[1]) return 1;
    if (!isfinite(ppi) || ppi == 0 || fabs(ppi) >= 2147483648.0) return 1;
    if (scale_mode && !isfinite(scale)) return 1;
    TL_LIT(&o, "q ");
    if (tl_prec_k(width, &v)) return 1;
    tl_milli(&o, v, 3);
    TL_LIT(&o, " 0 0 ");
    if (tl_prec_k(height, &v)) return 1;
    tl_milli(&o, v, 3);
    TL_LIT(&o, " 0 0 cm Q\n");

    if (ni < 1) return 2;
    n_paras = iv[ii++];
    for (p = 0; p < n_paras; p++) {
        int32_t n_lines, l;
        double shown = 0.0;
        int pending_block = 1;
        if (ii >= ni) return 2;
        n_lines = iv[ii++];
        TL_LIT(&o, "BT\n3 Tr");
        for (l = 0; l < n_lines; l++) {
            int32_t n_words, line_int, w;
            const double *L;
            int need_baseline = 1;
            if (ii + 2 > ni || di + 5 > nd) return 2;
            n_words = iv[ii++];
            line_int = iv[ii++];
            L = dv + di;
            di += 5;
            for (w = 0; w < n_words; w++) {
                const double *W;
                int32_t fs_int;
                int64_t plen = 0, n_glyphs = 0;
                double wx1, wy1, wx2, wy2, l2, x, y, adv, size;
                int size_int;
                if (ii + 1 > ni || di + 6 > nd) return 2;
                fs_int = iv[ii++];
                W = dv + di;
                di += 6;
                /* glyphs = 4-digit units less the low halves of
                 * surrogate pairs (the payload holds no lone ones) */
                while (bi + plen < nb && blob[bi + plen] != ' ') {
                    const uint8_t *u = blob + bi + plen;
                    if (bi + plen + 4 > nb) return 2;
                    if (!(u[0] == 'D' && u[1] >= '8' && u[1] <= 'B'))
                        n_glyphs++;
                    plen += 4;
                }
                if (n_glyphs < 1 || n_glyphs >= (1 << 22)) return 1;
                for (int k = 0; k < 4; k++)
                    if (!(fabs(W[k]) < TL_EXACT)) return 1;

                if (need_baseline) {
                    /* textlayer._baseline_for + clip_baseline */
                    double left = L[0], right = L[1], bottom = L[2];
                    double y_left, y_right;
                    int clipped = 0;
                    for (int k = 0; k < 5; k++)
                        if (!(fabs(L[k]) < TL_EXACT)) return 1;
                    y_left = bottom + L[4];
                    y_right = y_left + L[3] * (right - left);
                    s0 = left;
                    s1 = y_left;
                    s2 = right;
                    s3 = y_right;
                    if (fabs(y_right - y_left) * 72 < 2 * ppi
                            && 2 * ppi < fabs(right - left) * 72) {
                        s1 = s3 = (y_left + y_right) / 2;
                        clipped = 1;
                    }
                    if (!(fabs(s1) < TL_EXACT && fabs(s3) < TL_EXACT))
                        return 1;
                    seg_int = line_int && !clipped;
                    seg_dir = W[5];
                    if (seg_dir == 0) seg_dir = 1.0;
                }

                /* textlayer.get_word_baseline */
                wx1 = W[0];
                wy1 = W[1];
                wx2 = W[2];
                wy2 = W[3];
                if (seg_dir == 2) {
                    double t;
                    t = wx1; wx1 = wx2; wx2 = t;
                    t = wy1; wy1 = wy2; wy2 = t;
                }
                l2 = (s2 - s0) * (s2 - s0) + (s3 - s1) * (s3 - s1);
                if (l2 == 0) {
                    x = s0;
                    y = s1;
                } else {
                    double t = ((wx1 - s2) * (s2 - s0)
                                + (wy1 - s3) * (s3 - s1)) / l2;
                    x = s2 + t * (s2 - s0);
                    y = s3 + t * (s3 - s1);
                }
                adv = tl_pow((wx2 - wx1) * (wx2 - wx1)
                             + (wy2 - wy1) * (wy2 - wy1), 0.5);
                adv = adv * 72.0 / ppi;
                x = x * 72 / ppi;
                y = height - (y * 72.0 / ppi);
                if (!isfinite(x) || !isfinite(y) || !isfinite(adv))
                    return 1;

                if (pending_block || seg_dir != cur_dir) {
                    /* textlayer.affine_matrix */
                    double theta = tl_atan2(s1 - s3, s2 - s0);
                    double rv[6];
                    ra = tl_cos(theta);
                    rb = tl_sin(theta);
                    rc = -tl_sin(theta);
                    rd = tl_cos(theta);
                    if (seg_dir == 2) {
                        ra = -ra;
                        rb = -rb;
                    }
                    rv[0] = ra; rv[1] = rb; rv[2] = rc; rv[3] = rd;
                    rv[4] = x; rv[5] = y;
                    for (int k = 0; k < 6; k++) {
                        TL_LIT(&o, " ");
                        if (tl_prec_fixed(&o, rv[k])) return 1;
                    }
                    TL_LIT(&o, " Tm ");
                    pending_block = 0;
                } else {
                    double dx = x - cur_x, dy = y - cur_y;
                    TL_LIT(&o, " ");
                    if (tl_prec_fixed(&o, dx * ra + dy * rb)) return 1;
                    TL_LIT(&o, " ");
                    if (tl_prec_fixed(&o, dx * rc + dy * rd)) return 1;
                    TL_LIT(&o, " Td ");
                    need_baseline = 0;
                }
                cur_x = x;
                cur_y = y;
                cur_dir = seg_dir;

                size = W[4];
                size_int = fs_int;
                if (scale_mode) {
                    size = size * scale;
                    size_int = fs_int && scale_mode == 2;
                }
                if (size <= 0) {
                    size = fabs(s3 - s1);       /* clipped line height */
                    size_int = seg_int;
                    if (size <= 0) {
                        size = 8;
                        size_int = 1;
                    }
                }
                if (!isfinite(size)) return 1;
                if (size_int && size >= 2147483648.0) return 1;
                if (size != shown) {
                    TL_LIT(&o, "/f-0-0 ");
                    if (size_int) {
                        char tmp[24];
                        int len = snprintf(tmp, sizeof tmp, "%lld",
                                           (long long)size);
                        tl_put(&o, tmp, len);
                    } else if (tl_float_repr(&o, size)) {
                        return 1;
                    }
                    TL_LIT(&o, " Tf ");
                    shown = size;
                }

                if (adv > 0) {
                    double st;
                    if (tl_prec_k(100.0 * adv / (size * n_glyphs), &st))
                        return 1;
                    tl_milli(&o, 2 * st, 8);      /* K_CHAR_WIDTH * prec */
                    TL_LIT(&o, " Tz [ <");
                    tl_put(&o, (const char *)blob + bi, plen);
                    TL_LIT(&o, "> ] TJ");
                }
                bi += plen + (bi + plen < nb);  /* and the separator */
            }
            TL_LIT(&o, " \n");
        }
        TL_LIT(&o, "ET\n");
    }
    if (ii != ni || di != nd || bi != nb) return 2;
    *out_len = o.n;
    return 0;
}

/* ------------------------------------------------ hOCR text payload
 *
 * One text span's JSON payload (corpus/generate.py::_text_payload,
 * sources/hocr.py::page_payload) parsed straight into the streams
 * apts_text_layer walks: what textlayer._pack builds from
 * orjson.loads(payload)["paragraphs"], plus the page fields w, h, dpi
 * and scan_res (int, float or null, as the JSON spells them) and the
 * kept line texts as UTF-8 with their byte lengths.
 *
 * It declines (returns 1; the caller parses the page with orjson and
 * runs _pack, which then decide it, error included) every payload
 * whose parse it cannot reproduce bit for bit:
 *   - anything orjson rejects or reads otherwise: invalid UTF-8, raw
 *     control characters in strings, a BOM, trailing bytes, literals
 *     other than true/false/null, nesting deeper than TP_DEPTH;
 *   - \u escapes that decode to surrogates, paired or lone;
 *   - a key the body reads that is missing or given twice, and a value
 *     of a type it does not take (a string, bool or null in the
 *     geometry, a non-string word text, a bbox not of 4 numbers, ...);
 *   - ints outside int64 (orjson reads them as floats), number
 *     spellings longer than TP_NUM_MAX, non-finite values and exponent
 *     spellings that underflow (an exponent spelling is a float, as in
 *     orjson: whether a size is an int or a float is what Tf prints);
 *   - a locale whose decimal point is not '.' (strtod reads floats).
 * Keys may come in any order; keys the body does not read are checked
 * and skipped.  Ink is str.strip()'s whitespace set (tp_space; the
 * tests hold it against every code point Python knows).  No code point
 * the parser accepts is one codepoint_to_utf16be drops, so its pages
 * have no dropped codepoints.
 */
#define TP_DEPTH 64
#define TP_NUM_MAX 40

enum { TP_NULL = 0, TP_INT = 1, TP_FLOAT = 2 };

typedef struct {
    const uint8_t *p, *end;
    int32_t *iv;
    double *dv;
    uint8_t *blob, *txt;
    int32_t *ll;
    int64_t ni, nd, nb, nt, nl;
    int64_t icap, dcap, bcap, tcap, lcap;
} TP;

typedef struct {
    int type;
    int64_t i;
    double d;
} TPNum;

/* return codes: 0 ok, 1 decline, 2 an output buffer is full */
#define TP_TRY(x) do { int rc_ = (x); if (rc_) return rc_; } while (0)
#define TP_IS(k, kl, lit) \
    ((kl) == (int)sizeof(lit) - 1 && !memcmp((k), (lit), sizeof(lit) - 1))

static void tp_ws(TP *t) {
    while (t->p < t->end && (*t->p == ' ' || *t->p == '\n'
                             || *t->p == '\r' || *t->p == '\t'))
        t->p++;
}

static int tp_peek(TP *t) {
    tp_ws(t);
    return t->p < t->end ? *t->p : -1;
}

static int tp_eat(TP *t, int c) {
    if (tp_peek(t) != c) return 0;
    t->p++;
    return 1;
}

/* str.isspace(), the set str.strip() removes */
static int tp_space(uint32_t c) {
    if (c < 0x80) return (c >= 0x09 && c <= 0x0D) || (c >= 0x1C && c <= 0x20);
    return c == 0x85 || c == 0xA0 || c == 0x1680
        || (c >= 0x2000 && c <= 0x200A) || c == 0x2028 || c == 0x2029
        || c == 0x202F || c == 0x205F || c == 0x3000;
}

/* One UTF-8 sequence at *pp, which advances past it; -1 = invalid
 * (overlong, surrogate, beyond U+10FFFF, truncated). */
static int32_t tp_utf8(const uint8_t **pp, const uint8_t *end) {
    const uint8_t *s = *pp;
    uint32_t c = s[0], min;
    int n;
    if (c < 0x80) {
        *pp = s + 1;
        return (int32_t)c;
    }
    if (c >= 0xC2 && c <= 0xDF) {
        n = 1; c &= 0x1F; min = 0x80;
    } else if (c >= 0xE0 && c <= 0xEF) {
        n = 2; c &= 0x0F; min = 0x800;
    } else if (c >= 0xF0 && c <= 0xF4) {
        n = 3; c &= 0x07; min = 0x10000;
    } else {
        return -1;
    }
    if (end - s <= n) return -1;
    for (int k = 1; k <= n; k++) {
        if ((s[k] & 0xC0) != 0x80) return -1;
        c = (c << 6) | (s[k] & 0x3F);
    }
    if (c < min || c > 0x10FFFF || (c >= 0xD800 && c <= 0xDFFF)) return -1;
    *pp = s + n + 1;
    return (int32_t)c;
}

static int tp_hex4(const uint8_t *s, uint32_t *v) {
    uint32_t x = 0;
    for (int k = 0; k < 4; k++) {
        int c = s[k], d;
        if (c >= '0' && c <= '9') d = c - '0';
        else if (c >= 'a' && c <= 'f') d = c - 'a' + 10;
        else if (c >= 'A' && c <= 'F') d = c - 'A' + 10;
        else return 1;
        x = x << 4 | (uint32_t)d;
    }
    *v = x;
    return 0;
}

static void tp_hex_unit(uint8_t *o, uint32_t u) {
    static const char hexd[] = "0123456789ABCDEF";
    o[0] = (uint8_t)hexd[u >> 12 & 15];
    o[1] = (uint8_t)hexd[u >> 8 & 15];
    o[2] = (uint8_t)hexd[u >> 4 & 15];
    o[3] = (uint8_t)hexd[u & 15];
}

/* A JSON string, t->p just past its opening quote.  With key set, its
 * UTF-8 goes there (*klen = its length, or -1 when longer than kcap).
 * With ink set (a word text), each code point goes to the blob as
 * UTF-16BE hex (textlayer.codepoint_to_utf16be) and to the line text
 * as UTF-8, and *ink becomes 1 at the first non-whitespace one. */
static int tp_string(TP *t, char *key, int kcap, int *klen, int *ink) {
    int kl = 0;
    for (;;) {
        const uint8_t *s = t->p;
        uint8_t u8[4];
        uint32_t c;
        int n8;
        if (s >= t->end || *s < 0x20) return 1;
        if (*s < 0x80 && *s != '"' && *s != '\\') {      /* plain ASCII */
            c = *s;
            t->p = s + 1;
            if (key) {
                if (kl >= 0 && kl < kcap) key[kl++] = (char)c;
                else kl = -1;
            }
            if (ink) {
                if (t->nb + 4 > t->bcap || t->nt + 1 > t->tcap) return 2;
                tp_hex_unit(t->blob + t->nb, c);
                t->nb += 4;
                t->txt[t->nt++] = (uint8_t)c;
                if (!tp_space(c)) *ink = 1;
            }
            continue;
        }
        if (*s == '"') {
            t->p = s + 1;
            break;
        }
        if (*s == '\\') {
            int adv = 2;
            if (t->end - s < 2) return 1;
            switch (s[1]) {
            case '"': c = '"'; break;
            case '\\': c = '\\'; break;
            case '/': c = '/'; break;
            case 'b': c = 8; break;
            case 'f': c = 12; break;
            case 'n': c = 10; break;
            case 'r': c = 13; break;
            case 't': c = 9; break;
            case 'u':
                if (t->end - s < 6 || tp_hex4(s + 2, &c)) return 1;
                if (c >= 0xD800 && c <= 0xDFFF) return 1;
                adv = 6;
                break;
            default:
                return 1;
            }
            t->p = s + adv;
            if (c < 0x80) {
                u8[0] = (uint8_t)c;
                n8 = 1;
            } else if (c < 0x800) {
                u8[0] = (uint8_t)(0xC0 | c >> 6);
                u8[1] = (uint8_t)(0x80 | (c & 0x3F));
                n8 = 2;
            } else {
                u8[0] = (uint8_t)(0xE0 | c >> 12);
                u8[1] = (uint8_t)(0x80 | (c >> 6 & 0x3F));
                u8[2] = (uint8_t)(0x80 | (c & 0x3F));
                n8 = 3;
            }
        } else {
            int32_t cp = tp_utf8(&t->p, t->end);
            if (cp < 0) return 1;
            c = (uint32_t)cp;
            n8 = (int)(t->p - s);
            memcpy(u8, s, (size_t)n8);
        }
        if (key) {
            if (kl >= 0 && kl + n8 <= kcap) {
                memcpy(key + kl, u8, (size_t)n8);
                kl += n8;
            } else {
                kl = -1;
            }
        }
        if (ink) {
            if (t->nb + 8 > t->bcap || t->nt + 4 > t->tcap) return 2;
            if (c < 0x10000) {
                tp_hex_unit(t->blob + t->nb, c);
                t->nb += 4;
            } else {
                uint32_t a = c - 0x10000;
                tp_hex_unit(t->blob + t->nb, 0xD800 + (a >> 10 & 0x3FF));
                tp_hex_unit(t->blob + t->nb + 4, 0xDC00 + (a & 0x3FF));
                t->nb += 8;
            }
            memcpy(t->txt + t->nt, u8, (size_t)n8);
            t->nt += n8;
            if (!tp_space(c)) *ink = 1;
        }
    }
    if (key) *klen = kl;
    return 0;
}

/* A JSON number: an int spelling -> TP_INT ("-0" is the int 0), a
 * fraction or exponent spelling -> TP_FLOAT ("-0.0" is -0.0), read as
 * orjson and float() read it, correctly rounded: digits M < 2^53 over
 * 10^k with k <= 22 is one exactly rounded division of two exact
 * doubles, and other spellings go to strtod.  An exponent spelling
 * with a nonzero digit that reads as zero or subnormal is declined
 * (underflow). */
static int tp_number(TP *t, TPNum *v) {
    static const double p10[23] = {
        1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8, 1e9, 1e10, 1e11,
        1e12, 1e13, 1e14, 1e15, 1e16, 1e17, 1e18, 1e19, 1e20, 1e21, 1e22};
    const uint8_t *s = t->p, *q = s;
    uint64_t m = 0;
    int neg = 0, nd = 0, nf = 0, ex = 0, nz = 0;
    if (q < t->end && *q == '-') {
        neg = 1;
        q++;
    }
    if (q >= t->end || *q < '0' || *q > '9') return 1;
    if (*q == '0') {
        q++;
        nd = 1;
    } else {
        nz = 1;
        while (q < t->end && *q >= '0' && *q <= '9') {
            if (++nd > 19) return 1;
            m = m * 10 + (uint64_t)(*q++ - '0');
        }
    }
    if (q < t->end && *q == '.') {
        q++;
        while (q < t->end && *q >= '0' && *q <= '9') {
            if (nd + nf < 19) m = m * 10 + (uint64_t)(*q - '0');
            nz |= *q != '0';
            q++;
            nf++;
        }
        if (!nf) return 1;
    }
    if (q < t->end && (*q == 'e' || *q == 'E')) {
        int ne = 0;
        ex = 1;
        q++;
        if (q < t->end && (*q == '+' || *q == '-')) q++;
        while (q < t->end && *q >= '0' && *q <= '9') {
            q++;
            ne++;
        }
        if (!ne) return 1;
    }
    if (q - s > TP_NUM_MAX) return 1;
    if (nf || ex) {
        if (!ex && nd + nf <= 19 && m < (1ULL << 53) && nf <= 22) {
            v->d = (double)m / p10[nf];
            if (neg) v->d = -v->d;
        } else {
            char buf[TP_NUM_MAX + 1], *e;
            memcpy(buf, s, (size_t)(q - s));
            buf[q - s] = 0;
            v->d = strtod(buf, &e);
            if (e != buf + (q - s)) return 1;
            if (ex && nz && !(fabs(v->d) >= 2.2250738585072014e-308))
                return 1;
        }
        if (!isfinite(v->d)) return 1;
        v->type = TP_FLOAT;
        v->i = 0;
    } else {
        if (m > (uint64_t)INT64_MAX + neg) return 1;
        v->type = TP_INT;
        v->i = neg ? (int64_t)(0 - m) : (int64_t)m;
        v->d = (double)v->i;
    }
    t->p = q;
    return 0;
}

/* Checks and steps over any JSON value. */
static int tp_skip(TP *t, int depth) {
    int c = tp_peek(t);
    TPNum v;
    if (depth > TP_DEPTH) return 1;
    if (c == '"') {
        t->p++;
        return tp_string(t, NULL, 0, NULL, NULL);
    }
    if (c == '{' || c == '[') {
        int close = c == '{' ? '}' : ']';
        t->p++;
        if (tp_eat(t, close)) return 0;
        do {
            if (c == '{') {
                if (!tp_eat(t, '"')) return 1;
                TP_TRY(tp_string(t, NULL, 0, NULL, NULL));
                if (!tp_eat(t, ':')) return 1;
            }
            TP_TRY(tp_skip(t, depth + 1));
        } while (tp_eat(t, ','));
        return tp_eat(t, close) ? 0 : 1;
    }
    if (c == 't' || c == 'f' || c == 'n') {
        const char *lit = c == 't' ? "true" : c == 'f' ? "false" : "null";
        size_t n = strlen(lit);
        if ((size_t)(t->end - t->p) < n || memcmp(t->p, lit, n)) return 1;
        t->p += n;
        return 0;
    }
    if (c == '-' || (c >= '0' && c <= '9')) return tp_number(t, &v);
    return 1;
}

/* The next member's key of an object ('{' or the previous member's
 * ',' already read): *klen as tp_string gives it. */
static int tp_key(TP *t, char *key, int kcap, int *klen) {
    if (!tp_eat(t, '"')) return 1;
    TP_TRY(tp_string(t, key, kcap, klen, NULL));
    return tp_eat(t, ':') ? 0 : 1;
}

/* Opens an object or array; *more = 0 when it is empty. */
static int tp_open(TP *t, int open, int *more) {
    if (!tp_eat(t, open)) return 1;
    *more = !tp_eat(t, open == '{' ? '}' : ']');
    return 0;
}

/* After a member or element: ',' -> *more = 1, the close -> 0. */
static int tp_next(TP *t, int close, int *more) {
    if (tp_eat(t, ',')) {
        *more = 1;
        return 0;
    }
    *more = 0;
    return tp_eat(t, close) ? 0 : 1;
}

static int tp_num_of(TP *t, TPNum *v) {
    int c = tp_peek(t);
    if (c != '-' && !(c >= '0' && c <= '9')) return 1;
    return tp_number(t, v);
}

/* An array of exactly n numbers. */
static int tp_nums(TP *t, TPNum *v, int n) {
    int more, k = 0;
    TP_TRY(tp_open(t, '[', &more));
    while (more) {
        if (k == n) return 1;
        TP_TRY(tp_num_of(t, &v[k++]));
        TP_TRY(tp_next(t, ']', &more));
    }
    return k == n ? 0 : 1;
}

static int tp_word(TP *t, int *ink) {
    char key[24];
    int kl, more, seen = 0;
    int64_t ia = t->ni, da = t->nd;
    if (t->ni + 1 > t->icap || t->nd + 6 > t->dcap) return 2;
    t->ni += 1;
    t->nd += 6;
    TP_TRY(tp_open(t, '{', &more));
    while (more) {
        TP_TRY(tp_key(t, key, sizeof key, &kl));
        if (TP_IS(key, kl, "text")) {
            if (seen & 1 || !tp_eat(t, '"')) return 1;
            seen |= 1;
            if (t->nb + 5 > t->bcap) return 2;
            if (t->nb) t->blob[t->nb++] = ' ';
            TP_TRY(tp_string(t, NULL, 0, NULL, ink));
            if (t->nb + 4 > t->bcap) return 2;
            memcpy(t->blob + t->nb, "0020", 4);     /* synthetic space */
            t->nb += 4;
        } else if (TP_IS(key, kl, "bbox")) {
            TPNum b[4];
            if (seen & 2) return 1;
            seen |= 2;
            TP_TRY(tp_nums(t, b, 4));
            for (int k = 0; k < 4; k++) t->dv[da + k] = b[k].d;
        } else if (TP_IS(key, kl, "fontsize")) {
            TPNum s;
            if (seen & 4) return 1;
            seen |= 4;
            TP_TRY(tp_num_of(t, &s));
            t->dv[da + 4] = s.d;
            t->iv[ia] = s.type == TP_INT;
        } else if (TP_IS(key, kl, "writing_direction")) {
            TPNum d;
            if (seen & 8) return 1;
            seen |= 8;
            TP_TRY(tp_num_of(t, &d));
            t->dv[da + 5] = d.d;
        } else {
            TP_TRY(tp_skip(t, 8));
        }
        TP_TRY(tp_next(t, '}', &more));
    }
    return seen == 15 ? 0 : 1;
}

static int tp_line(TP *t, int *para_ink) {
    char key[24];
    int kl, more, seen = 0, line_ink = 0;
    int32_t n_words = 0;
    int64_t ia = t->ni, da = t->nd, ta = t->nt;
    TPNum bbox[4], base[2];
    if (t->ni + 2 > t->icap || t->nd + 5 > t->dcap) return 2;
    t->ni += 2;
    t->nd += 5;
    TP_TRY(tp_open(t, '{', &more));
    while (more) {
        TP_TRY(tp_key(t, key, sizeof key, &kl));
        if (TP_IS(key, kl, "bbox")) {
            if (seen & 1) return 1;
            seen |= 1;
            TP_TRY(tp_nums(t, bbox, 4));
        } else if (TP_IS(key, kl, "baseline")) {
            if (seen & 2) return 1;
            seen |= 2;
            TP_TRY(tp_nums(t, base, 2));
        } else if (TP_IS(key, kl, "words")) {
            int wmore;
            if (seen & 4) return 1;
            seen |= 4;
            TP_TRY(tp_open(t, '[', &wmore));
            while (wmore) {
                if (n_words) {          /* " ".join of the kept texts */
                    if (t->nt + 1 > t->tcap) return 2;
                    t->txt[t->nt++] = ' ';
                }
                TP_TRY(tp_word(t, &line_ink));
                n_words++;
                TP_TRY(tp_next(t, ']', &wmore));
            }
        } else {
            TP_TRY(tp_skip(t, 6));
        }
        TP_TRY(tp_next(t, '}', &more));
    }
    if (seen != 7) return 1;
    t->iv[ia] = n_words;
    if (n_words) {
        /* left, right, bottom, slope, intercept (the bbox top unused) */
        TPNum *g[5] = {&bbox[0], &bbox[2], &bbox[3], &base[0], &base[1]};
        int all_int = 1;
        for (int k = 0; k < 5; k++) {
            t->dv[da + k] = g[k]->d;
            all_int &= g[k]->type == TP_INT;
        }
        t->iv[ia + 1] = all_int;
    } else {
        for (int k = 0; k < 5; k++) t->dv[da + k] = 0;
        t->iv[ia + 1] = 0;
    }
    if (line_ink) {
        if (t->nl + 1 > t->lcap) return 2;
        t->ll[t->nl++] = (int32_t)(t->nt - ta);
        *para_ink = 1;
    } else {
        t->nt = ta;
    }
    return 0;
}

/* One paragraph; one without ink leaves no trace (_pack's marks). */
static int tp_para(TP *t, int32_t *n_paras) {
    char key[24];
    int kl, more, seen = 0, ink = 0;
    int32_t n_lines = 0;
    int64_t ni = t->ni, nd = t->nd, nb = t->nb, nt = t->nt, nl = t->nl;
    if (t->ni + 1 > t->icap) return 2;
    t->ni += 1;
    TP_TRY(tp_open(t, '{', &more));
    while (more) {
        TP_TRY(tp_key(t, key, sizeof key, &kl));
        if (TP_IS(key, kl, "lines")) {
            int lmore;
            if (seen) return 1;
            seen = 1;
            TP_TRY(tp_open(t, '[', &lmore));
            while (lmore) {
                TP_TRY(tp_line(t, &ink));
                n_lines++;
                TP_TRY(tp_next(t, ']', &lmore));
            }
        } else {
            TP_TRY(tp_skip(t, 4));
        }
        TP_TRY(tp_next(t, '}', &more));
    }
    if (!seen) return 1;
    if (ink) {
        t->iv[ni] = n_lines;
        (*n_paras)++;
    } else {
        t->ni = ni;
        t->nd = nd;
        t->nb = nb;
        t->nt = nt;
        t->nl = nl;
    }
    return 0;
}

static int tp_page(TP *t, int64_t *pi, double *pd, int32_t *pt) {
    static const char *names[4] = {"w", "h", "dpi", "scan_res"};
    char key[24];
    int kl, more, seen = 0;
    TP_TRY(tp_open(t, '{', &more));
    while (more) {
        int f = -1;
        TP_TRY(tp_key(t, key, sizeof key, &kl));
        for (int k = 0; k < 4; k++)
            if (kl == (int)strlen(names[k]) && !memcmp(key, names[k], (size_t)kl))
                f = k;
        if (f < 0) {
            TP_TRY(tp_skip(t, 3));
        } else if (seen >> f & 1) {
            return 1;
        } else if (tp_peek(t) == 'n') {
            seen |= 1 << f;
            TP_TRY(tp_skip(t, 3));
            pt[f] = TP_NULL;
        } else {
            TPNum v;
            seen |= 1 << f;
            TP_TRY(tp_num_of(t, &v));
            pt[f] = v.type;
            pi[f] = v.i;
            pd[f] = v.d;
        }
        TP_TRY(tp_next(t, '}', &more));
    }
    return seen == 15 ? 0 : 1;
}

/* Returns 0 (counts = ints, nums, blob bytes, text bytes, lines),
 * 1 = decline, 2 = an output buffer is too small.
 * page_t[k] is TP_NULL/TP_INT/TP_FLOAT for w, h, dpi, scan_res, with
 * the value in page_i[k] or page_d[k]. */
EXPORT int32_t apts_text_payload(const uint8_t *js, int64_t n,
                                 int32_t *iv, int64_t icap,
                                 double *dv, int64_t dcap,
                                 uint8_t *blob, int64_t bcap,
                                 uint8_t *txt, int64_t tcap,
                                 int32_t *ll, int64_t lcap,
                                 int64_t *page_i, double *page_d,
                                 int32_t *page_t, int64_t *counts) {
    TP t = {js, js + n, iv, dv, blob, txt, ll, 0, 0, 0, 0, 0,
            icap, dcap, bcap, tcap, lcap};
    char key[24];
    int kl, more, seen = 0;
    int32_t n_paras = 0;
    const struct lconv *lc = localeconv();
    if (lc->decimal_point[0] != '.' || lc->decimal_point[1]) return 1;
    if (icap < 1) return 2;
    t.ni = 1;
    TP_TRY(tp_open(&t, '{', &more));
    while (more) {
        TP_TRY(tp_key(&t, key, sizeof key, &kl));
        if (TP_IS(key, kl, "page")) {
            if (seen & 1) return 1;
            seen |= 1;
            TP_TRY(tp_page(&t, page_i, page_d, page_t));
        } else if (TP_IS(key, kl, "paragraphs")) {
            int pmore;
            if (seen & 2) return 1;
            seen |= 2;
            TP_TRY(tp_open(&t, '[', &pmore));
            while (pmore) {
                TP_TRY(tp_para(&t, &n_paras));
                TP_TRY(tp_next(&t, ']', &pmore));
            }
        } else {
            TP_TRY(tp_skip(&t, 2));
        }
        TP_TRY(tp_next(&t, '}', &more));
    }
    if (seen != 3 || tp_peek(&t) != -1) return 1;
    iv[0] = n_paras;
    counts[0] = t.ni;
    counts[1] = t.nd;
    counts[2] = t.nb;
    counts[3] = t.nt;
    counts[4] = t.nl;
    return 0;
}
