/* Native fast path for the v2 Gorilla block codec (last-value predictor).
 *
 * Same format state machine as codec/gorilla.py::GorillaDecoder
 * (GorillaDecompressor.java:42-112 + ValueDecompressor.java:32-54
 * re-expressed): 64-bit big-endian header timestamp, 27-bit first
 * delta (0x7FFFFFF = empty), dod bucket codes 0/10/110/1110/1111 with
 * 7/9/12/32-bit payloads (32-bit 0xFFFFFFFF terminates), value XOR
 * with leading/trailing window reuse (2-bit control, 5+7-bit header
 * packed as 12).  Bit-exactness is proven by tests/test_native_kernel.py
 * against the golden reference words and the scalar Python codec.
 *
 * The entry points are BATCH calls: one invocation decodes (or encodes)
 * every block in an Arrow batch, so per-call overhead vanishes.
 * Compiled lazily by codec/native.py via cc -O2 -shared; absence of a
 * compiler falls back, with a warning, to the scalar Python codec.
 */
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

static inline uint64_t load_be(const uint8_t *p) {
    uint64_t x;
    memcpy(&x, p, 8);
    return __builtin_bswap64(x);
}

#define M27 ((1u << 27) - 1)

/* ------------------------------------------------ DFCM predictor
 *
 * DifferentialFCM (predictors/DifferentialFCM.java:10-47): hash table
 * of deltas, size rounded UP to the next power of two (Java's
 * Integer shift-count-mod-32 applies), hash chain
 * ((h << 5) ^ ((value - lastValue) >> 50)) & mask with an ARITHMETIC
 * shift of the signed delta.  predict = table[hash] + lastValue. */
typedef struct {
    uint64_t *table;
    uint64_t mask;
    uint64_t last_value;
    uint64_t last_hash;
} Dfcm;

static inline int64_t dfcm_pow2_size(int64_t size) {
    size -= 1;
    int lz = size ? __builtin_clzll((uint64_t)size) : 64;
    return (int64_t)1 << ((64 - lz) & 31);
}

static inline void dfcm_reset(Dfcm *d, int64_t nslots) {
    memset(d->table, 0, (size_t)nslots * 8);
    d->last_value = 0;
    d->last_hash = 0;
}

static inline uint64_t dfcm_predict(const Dfcm *d) {
    return d->table[d->last_hash] + d->last_value;
}

static inline void dfcm_update(Dfcm *d, uint64_t value) {
    uint64_t delta = value - d->last_value;
    d->table[d->last_hash] = delta;
    d->last_hash = ((d->last_hash << 5)
                    ^ (uint64_t)((int64_t)delta >> 50)) & d->mask;
    d->last_value = value;
}

/* Decode nblocks payloads from one concatenated byte buffer.
 *
 * buf        : all payloads back to back, >= 16 zero bytes appended
 * byte_off   : per-block start offset into buf (nblocks entries)
 * nblocks    : number of blocks
 * expected   : per-block expected point counts (block metadata) — a
 *              block that tries to decode MORE than its expected count
 *              fails immediately, so a corrupted/truncated payload can
 *              never walk past its own bytes into the zero pad (zeros
 *              decode as dod=0 repeats) and out of the buffer
 * ts_out     : output timestamps, capacity = sum(expected)
 * v_out      : output raw value words, same capacity
 * out_cnt    : per-block decoded point counts (written)
 * cap        : total output capacity
 * pred_size  : 0 = last-value predictor, >0 = DifferentialFCM with
 *              this table size (both codec ends must agree,
 *              README.adoc:76-77)
 *
 * Returns total points decoded, or -1 - block_index on a per-block
 * expected-count / capacity overflow, or -1000000000 on OOM.
 */
int64_t decode_blocks_v2(const uint8_t *buf, const int64_t *byte_off,
                         int64_t nblocks, const int64_t *expected,
                         int64_t *ts_out, uint64_t *v_out,
                         int64_t *out_cnt, int64_t cap, int64_t pred_size) {
    int64_t total = 0;
    Dfcm df = {0, 0, 0, 0};
    int64_t nslots = 0;
    const int use_dfcm = pred_size > 0;
    if (use_dfcm) {
        nslots = dfcm_pow2_size(pred_size);
        df.table = (uint64_t *)malloc((size_t)nslots * 8);
        if (!df.table) return -1000000000;
        df.mask = (uint64_t)(nslots - 1);
    }
    for (int64_t b = 0; b < nblocks; b++) {
        const uint8_t *base = buf + byte_off[b];
        int64_t pos;             /* next word index */
        int bl;                  /* bits left in cur */
        uint64_t cur;

        uint64_t block_ts = load_be(base);
        cur = load_be(base + 8);
        pos = 2;
        bl = 64;

        int64_t n = 0;
        const int64_t exp = expected[b];
        if (use_dfcm) dfcm_reset(&df, nslots);

        /* first delta: 27 bits */
        uint64_t d;
        if (bl >= 27) {
            d = (cur >> (bl - 27)) & M27;
            bl -= 27;
            if (bl == 0) { cur = load_be(base + 8 * pos); pos++; bl = 64; }
        } else {
            d = cur & ((1ull << bl) - 1);
            int r = 27 - bl;
            cur = load_be(base + 8 * pos); pos++;
            d = (d << r) | (cur >> (64 - r));
            bl = 64 - r;
        }
        if (d == M27) { out_cnt[b] = 0; continue; }

        uint64_t val;
        if (bl == 64) {
            val = cur;
            cur = load_be(base + 8 * pos); pos++;
        } else {
            val = (cur & ((1ull << bl) - 1)) << (64 - bl);
            cur = load_be(base + 8 * pos); pos++;
            val |= cur >> bl;
        }
        int64_t ts = (int64_t)block_ts + (int64_t)d;
        int64_t delta = (int64_t)d;
        if (total >= cap || n >= exp) { free(df.table); return -1 - b; }
        ts_out[total] = ts;
        v_out[total] = val;
        total++; n++;
        if (use_dfcm) dfcm_update(&df, val);

        int slz = 1 << 30;
        int stz = 0;
        for (;;) {
            /* next_clear_bit(4) */
            unsigned instr = 0;
            for (int i = 0; i < 4; i++) {
                instr <<= 1;
                unsigned bit = (unsigned)((cur >> (bl - 1)) & 1);
                bl -= 1;
                if (bl == 0) { cur = load_be(base + 8 * pos); pos++; bl = 64; }
                if (bit) instr |= 1; else break;
            }
            int dd_bits;
            switch (instr) {
                case 0x00: dd_bits = 0; break;
                case 0x02: dd_bits = 7; break;
                case 0x06: dd_bits = 9; break;
                case 0x0E: dd_bits = 12; break;
                default:   dd_bits = 32; break;
            }
            if (dd_bits) {
                int nb = dd_bits;
                uint64_t dd;
                if (nb <= bl) {
                    dd = (cur >> (bl - nb)) & ((nb == 64) ? ~0ull : ((1ull << nb) - 1));
                    bl -= nb;
                    if (bl == 0) { cur = load_be(base + 8 * pos); pos++; bl = 64; }
                } else {
                    dd = cur & ((1ull << bl) - 1);
                    nb -= bl;
                    cur = load_be(base + 8 * pos); pos++;
                    dd = (dd << nb) | (cur >> (64 - nb));
                    bl = 64 - nb;
                }
                if (dd_bits == 32 && dd == 0xFFFFFFFFull) break;
                dd = (dd + 1) & 0xFFFFFFFFull;
                int64_t ddz = (int64_t)(dd >> 1) ^ (-(int64_t)(dd & 1));
                delta += ddz;
            }
            ts += delta;
            if (total >= cap || n >= exp) { free(df.table); return -1 - b; }
            ts_out[total] = ts;

            /* value: next_clear_bit(2) */
            unsigned c = 0;
            for (int i = 0; i < 2; i++) {
                c <<= 1;
                unsigned bit = (unsigned)((cur >> (bl - 1)) & 1);
                bl -= 1;
                if (bl == 0) { cur = load_be(base + 8 * pos); pos++; bl = 64; }
                if (bit) c |= 1; else break;
            }
            if (c >= 2) {
                if (c == 3) {
                    int nb = 12;
                    uint64_t hdr;
                    if (nb <= bl) {
                        hdr = (cur >> (bl - nb)) & 0xFFF;
                        bl -= nb;
                        if (bl == 0) { cur = load_be(base + 8 * pos); pos++; bl = 64; }
                    } else {
                        hdr = cur & ((1ull << bl) - 1);
                        nb -= bl;
                        cur = load_be(base + 8 * pos); pos++;
                        hdr = (hdr << nb) | (cur >> (64 - nb));
                        bl = 64 - nb;
                    }
                    slz = (int)(hdr >> 6);
                    stz = 64 - (int)((hdr & 0x3F) + 1) - slz;
                }
                int nb = 64 - slz - stz;
                uint64_t x;
                if (nb <= bl) {
                    x = (cur >> (bl - nb)) & ((nb == 64) ? ~0ull : ((1ull << nb) - 1));
                    bl -= nb;
                    if (bl == 0) { cur = load_be(base + 8 * pos); pos++; bl = 64; }
                } else {
                    x = cur & ((1ull << bl) - 1);
                    nb -= bl;
                    cur = load_be(base + 8 * pos); pos++;
                    x = (x << nb) | (cur >> (64 - nb));
                    bl = 64 - nb;
                }
                /* predict ^ meaningful-xor; with the last-value
                 * predictor this is the classic val ^= x<<stz */
                val = (use_dfcm ? dfcm_predict(&df) : val) ^ (x << stz);
            } else if (use_dfcm) {
                /* repeat path: value = predict(); the decoder updates
                 * its predictor on EVERY value, exactly inverting the
                 * encoder (see codec/gorilla.py GorillaDecoder note) */
                val = dfcm_predict(&df);
            }
            if (use_dfcm) dfcm_update(&df, val);
            v_out[total] = val;
            total++; n++;
        }
        out_cnt[b] = n;
    }
    free(df.table);
    return total;
}

typedef struct {
    uint64_t *w;      /* word buffer (zeroed) */
    int64_t widx;     /* current word index */
    int bl;           /* bits left in current word */
} Writer;

static inline void wr(Writer *o, uint64_t v, int n) {
    /* write n (1..64) low bits of v, MSB first */
    if (n < 64) v &= (1ull << n) - 1;
    if (n <= o->bl) {
        o->w[o->widx] |= (o->bl - n) ? (v << (o->bl - n)) : v;
        o->bl -= n;
        if (o->bl == 0) { o->widx++; o->bl = 64; }
    } else {
        int r = n - o->bl;
        o->w[o->widx] |= v >> r;
        o->widx++;
        o->bl = 64;
        o->w[o->widx] |= v << (64 - r);
        o->bl = 64 - r;
        /* bl can't hit 0 here since r < 64 */
    }
}

/* ------------------------------------------- value-only v1/v32 decode
 *
 * Format per codec/valueonly.py (_XorDecoder; Compressor.java:32-139 /
 * Compressor32.java:36-149 semantics): first value = w raw bits
 * (canonical NaN terminates), then per value a 2-bit control
 * (0 = repeat, 10 = reuse window, 11 = new lz/sig header), XOR chain,
 * canonical-NaN terminator. */
int64_t decode_values(const uint8_t *buf, const int64_t *byte_off,
                      int64_t nblocks, int word, const int64_t *expected,
                      uint64_t *v_out, int64_t *out_cnt, int64_t cap) {
    const int w = word;
    const uint64_t nan = (w == 64) ? 0x7FF8000000000000ull : 0x7FC00000ull;
    const int lz_bits = (w == 64) ? 5 : 4;
    const int sig_bits = (w == 64) ? 6 : 5;
    int64_t total = 0;
    for (int64_t b = 0; b < nblocks; b++) {
        const uint8_t *base = buf + byte_off[b];
        uint64_t cur = load_be(base);
        int64_t pos = 1;
        int bl = 64;
        int64_t n = 0;

#define RD(nb, dst) do { \
    int _n = (nb); uint64_t _v; \
    if (_n <= bl) { \
        _v = (cur >> (bl - _n)) & ((_n == 64) ? ~0ull : ((1ull << _n) - 1)); \
        bl -= _n; \
        if (bl == 0) { cur = load_be(base + 8 * pos); pos++; bl = 64; } \
    } else { \
        _v = cur & ((1ull << bl) - 1); \
        _n -= bl; \
        cur = load_be(base + 8 * pos); pos++; \
        _v = (_v << _n) | (cur >> (64 - _n)); \
        bl = 64 - _n; \
    } \
    (dst) = _v; \
} while (0)

        const int64_t exp = expected[b];
        uint64_t val;
        RD(w, val);
        if (val == nan) { out_cnt[b] = 0; continue; }
        if (total >= cap || n >= exp) return -1 - b;
        v_out[total++] = val; n++;

        int slz = 1 << 30, stz = 0;
        for (;;) {
            uint64_t bit;
            RD(1, bit);
            if (bit) {
                RD(1, bit);
                if (bit) {
                    uint64_t hslz, hsig;
                    RD(lz_bits, hslz);
                    RD(sig_bits, hsig);
                    slz = (int)hslz;
                    int sig = (int)hsig;
                    if (sig == 0) sig = w;
                    stz = w - sig - slz;
                }
                uint64_t x;
                RD(w - slz - stz, x);
                x = (x << stz) & ((w == 64) ? ~0ull : ((1ull << w) - 1));
                val ^= x;
                if (val == nan) break;
            }
            if (total >= cap || n >= exp) return -1 - b;
            v_out[total++] = val; n++;
        }
#undef RD
        out_cnt[b] = n;
    }
    return total;
}

/* ------------------------------------------- value-only v1/v32 encode */
static inline void enc_one_value(void *op, int w, int lz_cap_at, int lz_cap_to,
                                 int lz_bits, int sig_bits,
                                 uint64_t xorv, int *slz, int *stz) {
    Writer *o = (Writer *)op;
    if (xorv == 0) { wr(o, 0, 1); return; }
    int lz = __builtin_clzll(xorv) - (64 - w);
    int tz = __builtin_ctzll(xorv);
    if (lz >= lz_cap_at) lz = lz_cap_to;
    wr(o, 1, 1);
    if (lz >= *slz && tz >= *stz) {
        int sig = w - *slz - *stz;
        wr(o, 0, 1);
        wr(o, xorv >> *stz, sig);
    } else {
        int sig = w - lz - tz;
        wr(o, 1, 1);
        wr(o, (uint64_t)lz, lz_bits);
        wr(o, (uint64_t)sig & ((1ull << sig_bits) - 1), sig_bits);
        wr(o, xorv >> tz, sig);
        *slz = lz; *stz = tz;
    }
}

int64_t encode_values(const int64_t *starts, const int64_t *counts,
                      const uint64_t *vbits, int64_t nblocks, int word,
                      uint64_t *words, int64_t cap_words,
                      int64_t *word_off, int64_t *block_bits) {
    const int w = word;
    const uint64_t mask = (w == 64) ? ~0ull : ((1ull << w) - 1);
    const uint64_t nan = (w == 64) ? 0x7FF8000000000000ull : 0x7FC00000ull;
    const int lz_cap_at = w / 2, lz_cap_to = w / 2 - 1;
    const int lz_bits = (w == 64) ? 5 : 4;
    const int sig_bits = (w == 64) ? 6 : 5;
    int64_t widx = 0;
    for (int64_t b = 0; b < nblocks; b++) {
        int64_t s = starts[b], n = counts[b];
        int64_t worst = (w + (n + 1) * (2 + lz_bits + sig_bits + w) + 64) / 64 + 2;
        if (widx + worst > cap_words) return -1;
        Writer o = { words, widx, 64 };
        uint64_t prev = vbits[s] & mask;
        wr(&o, prev, w);
        int slz = 1 << 30, stz = 0;
        for (int64_t i = s + 1; i < s + n; i++) {
            uint64_t v = vbits[i] & mask;
            enc_one_value(&o, w, lz_cap_at, lz_cap_to, lz_bits, sig_bits,
                          prev ^ v, &slz, &stz);
            prev = v;
        }
        /* close(): encode canonical NaN through the chain + one 0 bit */
        enc_one_value(&o, w, lz_cap_at, lz_cap_to, lz_bits, sig_bits,
                      prev ^ nan, &slz, &stz);
        wr(&o, 0, 1);
        int64_t bits = (o.widx - widx) * 64 + (64 - o.bl);
        word_off[b] = widx;
        block_bits[b] = bits;
        widx = o.widx + (o.bl < 64 ? 1 : 0);
    }
    return widx;
}

/* ------------------------------------------------- PMC-MR / Swing
 *
 * Sequential lossy segment filters, float32 arithmetic exactly as
 * codec/lossy.py (PmcMR.java:10-48 / SwingFilter.java:11-59 +
 * LinearFunction.java:17-37 semantics): x86-64 float ops are SSE
 * binary32, matching np.float32 op-for-op. */
#include <float.h>

int64_t pmc_filter_blocks(const int64_t *starts, const int64_t *counts,
                          const int64_t *ts, const float *vs,
                          int64_t nblocks, float eps,
                          int64_t *seg_t0, int64_t *seg_t1,
                          uint32_t *seg_vbits, int64_t *seg_per_block,
                          int64_t cap) {
    int64_t nseg = 0;
    for (int64_t b = 0; b < nblocks; b++) {
        int64_t s = starts[b], n = counts[b];
        float vmax = FLT_MIN, vmin = FLT_MAX;   /* Java Float.MIN/MAX_VALUE */
        int have = 0;
        int64_t c_t0 = 0, c_t1 = 0;
        float c_val = 0.0f;
        int64_t base = nseg;
        for (int64_t i = s; i < s + n; i++) {
            int64_t t = ts[i];
            float v = vs[i];
            if (v > vmax) vmax = v;
            if (v < vmin) vmin = v;
            if ((vmax - vmin) <= eps && have) {
                c_t1 = t;
                c_val = vmax - (vmax - vmin) / 2.0f;
            } else {
                if (have) {
                    if (nseg >= cap) return -1 - b;
                    seg_t0[nseg] = c_t0; seg_t1[nseg] = c_t1;
                    memcpy(&seg_vbits[nseg], &c_val, 4);
                    nseg++;
                }
                vmax = v; vmin = v;
                c_t0 = t; c_t1 = t; c_val = v; have = 1;
            }
        }
        if (have) {
            if (nseg >= cap) return -1 - b;
            seg_t0[nseg] = c_t0; seg_t1[nseg] = c_t1;
            memcpy(&seg_vbits[nseg], &c_val, 4);
            nseg++;
        }
        seg_per_block[b] = nseg - base;
    }
    return nseg;
}

typedef struct { double a, b; } Line;

static inline Line line_make(int64_t ts_, float vs_, int64_t te, float ve) {
    /* (ve - vs) / (float)(te - ts) in float32; a stored as double;
     * b = (double)vs - a * ts in double (LinearFunction.java:20-23) */
    float af = (ve - vs_) / (float)(te - ts_);
    Line l;
    l.a = (double)af;
    l.b = (double)vs_ - l.a * (double)ts_;
    return l;
}

static inline float line_get(Line l, int64_t t) {
    return (float)(l.a * (double)t + l.b);
}

int64_t swing_filter_blocks(const int64_t *starts, const int64_t *counts,
                            const int64_t *ts, const float *vs,
                            int64_t nblocks, float eps,
                            int64_t *seg_t0, int64_t *seg_t1,
                            double *seg_a, double *seg_b,
                            int64_t *seg_per_block, int64_t cap) {
    int64_t nseg = 0;
    for (int64_t b = 0; b < nblocks; b++) {
        int64_t s = starts[b], n = counts[b];
        int have_first = 0, have_lines = 0;
        int64_t first_t = 0, last_t = 0;
        float first_v = 0.0f, last_v = 0.0f;
        Line ui = {0, 0}, li = {0, 0};
        int64_t base = nseg;
        for (int64_t i = s; i < s + n; i++) {
            int64_t t = ts[i];
            float v = vs[i];
            last_t = t; last_v = v;
            if (!have_first) {
                have_first = 1; first_t = t; first_v = v;
                continue;
            }
            if (have_lines && (line_get(ui, t) < v || line_get(li, t) > v)) {
                Line line = line_make(first_t, first_v, t,
                                      (line_get(ui, t) + line_get(li, t)) / 2.0f);
                if (nseg >= cap) return -1 - b;
                seg_t0[nseg] = first_t; seg_t1[nseg] = t - 1;
                seg_a[nseg] = line.a; seg_b[nseg] = line.b;
                nseg++;
                have_lines = 0;
                first_t = t; first_v = v;
            } else {
                Line un = line_make(first_t, first_v, t, v + eps);
                Line ln = line_make(first_t, first_v, t, v - eps);
                if (!have_lines) {
                    ui = un; li = ln; have_lines = 1;
                } else {
                    if (line_get(ui, t) > line_get(un, t)) ui = un;
                    if (line_get(li, t) < line_get(ln, t)) li = ln;
                }
            }
        }
        if (have_lines) {
            Line line = line_make(first_t, first_v, last_t,
                                  (line_get(ui, last_t) + line_get(li, last_t)) / 2.0f);
            if (nseg >= cap) return -1 - b;
            seg_t0[nseg] = first_t; seg_t1[nseg] = last_t;
            seg_a[nseg] = line.a; seg_b[nseg] = line.b;
            nseg++;
        } else if (have_first) {
            Line line = line_make(first_t, first_v, first_t + 1, first_v);
            if (nseg >= cap) return -1 - b;
            seg_t0[nseg] = first_t; seg_t1[nseg] = first_t;
            seg_a[nseg] = line.a; seg_b[nseg] = line.b;
            nseg++;
        }
        seg_per_block[b] = nseg - base;
    }
    return nseg;
}

/* --------------------------------------------- lossy Gorilla-32 encode
 *
 * LossyCompressor32 semantics per codec/lossy.py (upstream quirks
 * preserved bit-for-bit): |Δ|<ε repeats WITHOUT updating stored_val;
 * quantization uses Java shift-count-mod-32 arithmetic shifts and the
 * literal "2 ^ (space - 1)" where ^ is XOR; lz caps 16→15; close()
 * sends the canonical NaN through the same chain plus one 0 bit. */
static inline float l32_f(uint32_t b) { float f; memcpy(&f, &b, 4); return f; }

static inline void l32_compress(Writer *o, uint32_t *stored,
                                int *slz, int *stz,
                                uint32_t value, double eps, int logerr) {
    double diff = ((double)l32_f(value)) - ((double)l32_f(*stored));
    if (diff < 0) diff = -diff;            /* NaN stays NaN → compare false */
    if (diff < eps) { wr(o, 0, 1); return; }
    int32_t integer_digits =
        (int32_t)(((uint32_t)((int32_t)value << 1)) >> 24) - 127;
    int32_t space = 23 + logerr - integer_digits;
    if (space > 0) {
        int s = space & 31;                 /* Java shift count mod 32 */
        value = (uint32_t)((((int32_t)value) >> s) << s);
        value = (uint32_t)((int32_t)value
                           | ((int32_t)*stored & (int32_t)(2 ^ (space - 1))));
    }
    uint32_t x = *stored ^ value;
    if (x == 0) {
        wr(o, 0, 1);
    } else {
        int lz = __builtin_clz(x);          /* x != 0 */
        int tz = __builtin_ctz(x);
        if (lz >= 16) lz = 15;
        wr(o, 1, 1);
        if (lz >= *slz && tz >= *stz) {
            int sig = 32 - *slz - *stz;
            wr(o, 0, 1);
            wr(o, x >> *stz, sig);
        } else {
            int sig = 32 - lz - tz;
            wr(o, 1, 1);
            wr(o, (uint64_t)lz, 4);
            wr(o, (uint64_t)(sig & 31), 5);
            wr(o, x >> tz, sig);
            *slz = lz; *stz = tz;
        }
    }
    *stored = value;
}

int64_t encode_lossy32(const int64_t *starts, const int64_t *counts,
                       const uint64_t *vbits, int64_t nblocks, int logerr,
                       uint64_t *words, int64_t cap_words,
                       int64_t *word_off, int64_t *block_bits) {
    /* eps = 2^logerr exactly (Math.pow on a power of two) */
    double eps = 1.0;
    for (int i = 0; i < (logerr >= 0 ? logerr : -logerr); i++)
        eps = (logerr >= 0) ? eps * 2.0 : eps * 0.5;
    int64_t widx = 0;
    for (int64_t b = 0; b < nblocks; b++) {
        int64_t s = starts[b], n = counts[b];
        int64_t worst = (32 + (n + 1) * (2 + 4 + 5 + 32) + 64) / 64 + 2;
        if (widx + worst > cap_words) return -1;
        Writer o = { words, widx, 64 };
        uint32_t stored = (uint32_t)vbits[s];
        wr(&o, stored, 32);
        int slz = 1 << 30, stz = 0;
        for (int64_t i = s + 1; i < s + n; i++)
            l32_compress(&o, &stored, &slz, &stz,
                         (uint32_t)vbits[i], eps, logerr);
        l32_compress(&o, &stored, &slz, &stz, 0x7FC00000u, eps, logerr);
        wr(&o, 0, 1);
        int64_t bits = (o.widx - widx) * 64 + (64 - o.bl);
        word_off[b] = widx;
        block_bits[b] = bits;
        widx = o.widx + (o.bl < 64 ? 1 : 0);
    }
    return widx;
}

/* ---------------------------------------------------------------- encode */

/* Encode nblocks groups (contiguous runs) of (ts, vbits) points.
 *
 * starts/counts : per-block run boundaries into ts/vbits
 * block_ts      : per-block header timestamp
 * words         : output word buffer, caller-allocated, zeroed,
 *                 capacity cap_words; blocks are word-aligned
 * word_off      : per-block start word index (written)
 * block_bits    : per-block payload bit length (written)
 *
 * Returns total words used, -1 on overflow, -1000000000 on OOM.
 * pred_size: 0 = last-value predictor, >0 = DifferentialFCM table size.
 */
int64_t encode_blocks_v2(const int64_t *starts, const int64_t *counts,
                         const int64_t *block_ts, const int64_t *ts,
                         const uint64_t *vbits, int64_t nblocks,
                         uint64_t *words, int64_t cap_words,
                         int64_t *word_off, int64_t *block_bits,
                         int64_t pred_size) {
    int64_t widx = 0;
    Dfcm df = {0, 0, 0, 0};
    int64_t nslots = 0;
    const int use_dfcm = pred_size > 0;
    if (use_dfcm) {
        nslots = dfcm_pow2_size(pred_size);
        df.table = (uint64_t *)malloc((size_t)nslots * 8);
        if (!df.table) return -1000000000;
        df.mask = (uint64_t)(nslots - 1);
    }
    for (int64_t b = 0; b < nblocks; b++) {
        int64_t s = starts[b], n = counts[b];
        /* worst case words for this block: header 64+27+64 + n*(36+78)
         * + terminator 37 bits */
        int64_t worst = (64 + 27 + 64 + 37 + n * 114) / 64 + 2;
        if (widx + worst > cap_words) { free(df.table); return -1; }
        if (use_dfcm) dfcm_reset(&df, nslots);
        Writer o = { words, widx, 64 };
        int64_t bts = block_ts[b];
        wr(&o, (uint64_t)bts, 64);
        int64_t first_delta = (int32_t)(ts[s] - bts);
        wr(&o, (uint64_t)first_delta & M27, 27);
        wr(&o, vbits[s], 64);
        int64_t ts_prev = ts[s];
        int64_t delta_prev = first_delta;
        uint64_t val_prev = vbits[s];
        if (use_dfcm) dfcm_update(&df, vbits[s]);
        int slz = 1 << 30, stz = 0;
        for (int64_t i = s + 1; i < s + n; i++) {
            /* timestamp: delta-of-delta buckets (int32 wrap like the
             * reference's int arithmetic) */
            int32_t delta = (int32_t)(ts[i] - ts_prev);
            int32_t dod = (int32_t)(delta - (int32_t)delta_prev);
            ts_prev = ts[i];
            delta_prev = (int64_t)delta;
            if (dod == 0) {
                wr(&o, 0, 1);
            } else {
                /* zz == 0 (dod == -1) takes the 36-bit bucket — the
                 * reference's "-1 quirk" (batch.py: small = zz >= 1) */
                uint32_t zz = (((uint32_t)dod << 1) ^ (uint32_t)(dod >> 31)) - 1u;
                if (zz >= 1u && zz < 128u)       wr(&o, (0x02ull << 7)  | zz, 9);
                else if (zz >= 1u && zz < 512u)  wr(&o, (0x06ull << 9)  | zz, 12);
                else if (zz >= 1u && zz < 4096u) wr(&o, (0x0Eull << 12) | zz, 16);
                else                             wr(&o, (0x0Full << 32) | zz, 36);
            }
            /* value: XOR chain with window reuse (predict ^ value —
             * last-value predict is simply the previous value) */
            uint64_t x = (use_dfcm ? dfcm_predict(&df) : val_prev)
                         ^ vbits[i];
            val_prev = vbits[i];
            if (use_dfcm) dfcm_update(&df, vbits[i]);
            if (x == 0) {
                wr(&o, 0, 1);
            } else {
                int lz = __builtin_clzll(x);
                int tz = __builtin_ctzll(x);
                if (lz >= slz && tz >= stz) {
                    int sig = 64 - slz - stz;
                    wr(&o, 0b10, 2);
                    wr(&o, x >> stz, sig);
                } else {
                    int sig = 64 - lz - tz;
                    wr(&o, (0b11ull << 12) | ((uint64_t)lz << 6)
                           | ((uint64_t)(sig - 1) & 0x3F), 14);
                    wr(&o, x >> tz, sig);
                    slz = lz; stz = tz;
                }
            }
        }
        /* terminator: 0x0F + 0xFFFFFFFF + one zero bit */
        wr(&o, 0x0F, 4);
        wr(&o, 0xFFFFFFFFull, 32);
        wr(&o, 0, 1);
        int64_t bits = (o.widx - widx) * 64 + (64 - o.bl);
        word_off[b] = widx;
        block_bits[b] = bits;
        widx = o.widx + (o.bl < 64 ? 1 : 0);
    }
    free(df.table);
    return widx;
}
