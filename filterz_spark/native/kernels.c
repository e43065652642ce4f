/* Native kernels for filterz_spark.
 *
 * Compiled on first use by filterz_spark/native/__init__.py with the
 * system C compiler (gcc -O3 -shared, or $CC) and loaded via ctypes. These
 * are the filters' only backend: a host that cannot compile them fails on
 * first filter use. The construction kernels are the place where the
 * algorithms are inherently sequential per key (xor peel, ribbon banded
 * elimination) or scatter-bound (sbbf insert) and numpy vectorization
 * cannot reach the reference's per-core rates; the probes run here too.
 * tests/filter_oracle.py holds a numpy/Python reference for every filter
 * kernel, and the tests check the outputs byte for byte. The last kernel,
 * km_md5_minhash, is the MinHash signature pass of ops/dedup.py; its
 * references are hashlib and the JVM md5/conv expression
 * (tests/test_native.py).
 *
 * Semantics notes (reference = steelcake/filterz, Zig):
 *  - sbbf_insert mirrors src/sbbf.zig:64-80 exactly.
 *  - xorf_attempt runs the reference's own sequential queue peel
 *    (src/xorf.zig:167-216) over the repo's documented binary-fuse
 *    position derivation (see the POSITION DEVIATION note in
 *    filters/xorf.py).
 *  - ribbon_attempt mirrors src/ribbon.zig:9-49 (per-key params) and
 *    :77-134 (incremental banded Gaussian elimination + bit-plane
 *    back-substitution). Rows are inserted in ascending bucket order
 *    (stable counting sort on the top 16 bits of start position).
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#if defined(__GLIBC__) || defined(__linux__)
#include <malloc.h>
/* Construction kernels allocate and free tens of MB per attempt; glibc
 * mmap()s blocks over 128KB and munmap()s them on free, so every attempt
 * re-faults its whole working set — at 32 concurrent workers the page-fault
 * and TLB-shootdown storm inflates kernel time ~10x (measured). Keep big
 * blocks on the heap for reuse instead; workers are long-lived so the
 * retained peak (~100MB) is irrelevant. */
__attribute__((constructor)) static void filterz_tune_malloc(void) {
    mallopt(M_MMAP_THRESHOLD, 1 << 30);
    mallopt(M_TRIM_THRESHOLD, 1 << 30);
}
#endif

/* ---------------- shared hash primitives ---------------- */

static inline uint64_t mulhi64(uint64_t a, uint64_t b) {
    return (uint64_t)(((unsigned __int128)a * b) >> 64);
}

/* Murmur2-64 of one u64 with seed — bit-exact to Zig
 * std.hash.Murmur2_64.hashUint64WithSeed (ref src/xorf.zig:7-9) and to
 * filterz_spark.hashing.murmur64_mix. */
static inline uint64_t murmur_mix(uint64_t k, uint64_t seed) {
    const uint64_t m = 0xc6a4a7935bd1e995ULL;
    uint64_t h = seed ^ (8ULL * m);
    k *= m;
    k ^= k >> 47;
    k *= m;
    h ^= k;
    h *= m;
    h ^= h >> 47;
    h *= m;
    h ^= h >> 47;
    return h;
}

/* ---------------- SBBF (ref src/sbbf.zig) ---------------- */

static const uint64_t SBBF_SALT[8] = {
    0x47b6137bULL, 0x44974d91ULL, 0x8824ad5bULL, 0xa2b7289dULL,
    0x705495c7ULL, 0x2df1424bULL, 0x9efc4947ULL, 0x5c6bfb31ULL,
};

void sbbf_insert(uint64_t *blocks, int64_t num_blocks,
                 const uint64_t *hashes, int64_t n) {
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = hashes[i];
        uint64_t block = ((h & 0xffffffffULL) * (uint64_t)num_blocks) >> 32;
        uint64_t *b = blocks + block * 8;
        for (int j = 0; j < 8; j++) {
            uint64_t x = (h * SBBF_SALT[j]) >> 27;
            b[j] |= 1ULL << (x & 63);
        }
    }
}

/* Probe: out[i] = 1 iff all 8 lane bits set (ref src/sbbf.zig:32-37). */
void sbbf_contains(const uint64_t *blocks, int64_t num_blocks,
                   const uint64_t *hashes, int64_t n, uint8_t *out) {
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = hashes[i];
        uint64_t block = ((h & 0xffffffffULL) * (uint64_t)num_blocks) >> 32;
        const uint64_t *b = blocks + block * 8;
        int ok = 1;
        for (int j = 0; j < 8; j++) {
            uint64_t x = (h * SBBF_SALT[j]) >> 27;
            uint64_t m = 1ULL << (x & 63);
            ok &= (b[j] & m) != 0;
        }
        out[i] = (uint8_t)ok;
    }
}

/* ---------------- xor / binary-fuse (ref src/xorf.zig) ---------------- */

/* Position j of seeded hash h — the binary-fuse derivation
 * (arXiv:2201.01174); tests/filter_oracle.py make_subhashes is the
 * vectorized reference. */
static inline uint64_t xorf_pos(uint64_t h, uint64_t hl, uint64_t hh_mask,
                                int span, int arity, int j,
                                uint64_t seg_len, uint64_t seg_mask) {
    uint64_t hh = h & hh_mask;
    return (hl + (uint64_t)j * seg_len) ^
           ((hh >> (span * (arity - 1 - j))) & seg_mask);
}

/* count + xor-of-hashes for one slot, interleaved so both live on the
 * same cache line (16-byte aligned record; see xorf_attempt) */
typedef struct {
    uint64_t mask;
    uint16_t cnt;
} xslot_t;

/* One Las-Vegas construction attempt for a given seed.
 * Returns the number of peeled keys; fingerprints are written to fp_out
 * (u64 slots, already masked to fp_bits) ONLY when peeled == n.
 * Returns -1 on allocation failure.  The peel itself is the reference's
 * queue algorithm (src/xorf.zig:167-193); assignment runs in reverse peel
 * order (src/xorf.zig:199-216). */
int64_t xorf_attempt(const uint64_t *hashes, int64_t n, uint64_t seed,
                     int32_t arity, int64_t seg_len_i, int64_t scl_i,
                     int64_t alen, int32_t fp_bits, uint64_t *fp_out) {
    uint64_t seg_len = (uint64_t)seg_len_i;
    uint64_t seg_mask = seg_len - 1;
    uint64_t scl = (uint64_t)scl_i;
    int span = (arity == 3) ? 18 : 12;
    int bits = span * arity;
    uint64_t hh_mask = bits >= 64 ? ~0ULL : ((1ULL << bits) - 1);

    /* One INTERLEAVED slot record per position: the init scatter and the
     * peel always touch a slot's count and xormask together, so packing
     * them into one 16-byte struct halves the random cache-line touches
     * per position (two arrays = two lines) — these loops are
     * latency-bound over a multi-MB working set, so touched LINES, not
     * bytes, set the rate. u16 count is ample: distinct uniform hashes
     * over alen >= 1.1n slots max out at O(log n) (~15 in practice). */
    xslot_t *slots = (xslot_t *)calloc((size_t)alen, sizeof(xslot_t));
    /* each slot's count passes through the value 1 at most once (counts
     * only decrement), so <= alen pushes total */
    int64_t *stack = (int64_t *)malloc((size_t)alen * sizeof(int64_t));
    uint64_t *peel_keys = (uint64_t *)malloc((size_t)(n > 0 ? n : 1) * sizeof(uint64_t));
    int64_t *peel_pos = (int64_t *)malloc((size_t)(n > 0 ? n : 1) * sizeof(int64_t));
    if (!slots || !stack || !peel_keys || !peel_pos) {
        free(slots); free(stack); free(peel_keys); free(peel_pos);
        return -1;
    }

    /* software-pipelined init scatter: compute key i+PF's positions and
     * prefetch their slot lines while scattering key i — the position
     * math is ~10 ALU ops/key, the random-access latency over the
     * multi-MB slot working set is what stalls the loop */
    enum { XORF_PF = 12 };
    for (int64_t i = 0; i < n; i++) {
        if (i + XORF_PF < n) {
            uint64_t hp = murmur_mix(hashes[i + XORF_PF], seed);
            uint64_t hlp = mulhi64(hp, scl);
            for (int j = 0; j < arity; j++) {
                uint64_t p = xorf_pos(hp, hlp, hh_mask, span, arity, j,
                                      seg_len, seg_mask);
                __builtin_prefetch(&slots[p], 1, 1);
            }
        }
        uint64_t h = murmur_mix(hashes[i], seed);
        uint64_t hl = mulhi64(h, scl);
        for (int j = 0; j < arity; j++) {
            uint64_t p = xorf_pos(h, hl, hh_mask, span, arity, j, seg_len, seg_mask);
            slots[p].cnt++;
            slots[p].mask ^= h;
        }
    }

    int64_t sp = 0;
    for (int64_t i = 0; i < alen; i++)
        if (slots[i].cnt == 1) stack[sp++] = i;

    int64_t peeled = 0;
    while (sp > 0) {
        int64_t slot = stack[--sp];
        if (slots[slot].cnt != 1) continue;
        uint64_t h = slots[slot].mask; /* sole remaining key in this slot */
        uint64_t hl = mulhi64(h, scl);
        for (int j = 0; j < arity; j++) {
            uint64_t p = xorf_pos(h, hl, hh_mask, span, arity, j, seg_len, seg_mask);
            slots[p].mask ^= h;
            slots[p].cnt--;
            if ((int64_t)p != slot && slots[p].cnt == 1) stack[sp++] = (int64_t)p;
        }
        peel_keys[peeled] = h;
        peel_pos[peeled] = slot;
        peeled++;
    }

    if (peeled == n) {
        uint64_t fp_mask = fp_bits >= 64 ? ~0ULL : ((1ULL << fp_bits) - 1);
        memset(fp_out, 0, (size_t)alen * sizeof(uint64_t));
        for (int64_t t = peeled - 1; t >= 0; t--) {
            uint64_t h = peel_keys[t];
            uint64_t hl = mulhi64(h, scl);
            uint64_t f = (h ^ (h >> 32)) & fp_mask;
            for (int j = 0; j < arity; j++) {
                uint64_t p = xorf_pos(h, hl, hh_mask, span, arity, j, seg_len, seg_mask);
                f ^= fp_out[p]; /* chosen slot holds 0 pre-assignment */
            }
            fp_out[peel_pos[t]] = f & fp_mask;
        }
    }

    free(slots); free(stack); free(peel_keys); free(peel_pos);
    return peeled;
}

/* Probe: out[i] = 1 iff fp(h) ^ fps[p0] ^ .. ^ fps[p_arity-1] == 0
 * (ref src/xorf.zig:42-50). Fingerprints supplied as u64 (widened). */
void xorf_contains(const uint64_t *fps, uint64_t seed, int32_t arity,
                   int64_t seg_len_i, int64_t scl_i, int32_t fp_bits,
                   const uint64_t *hashes, int64_t n, uint8_t *out) {
    uint64_t seg_len = (uint64_t)seg_len_i;
    uint64_t seg_mask = seg_len - 1;
    uint64_t scl = (uint64_t)scl_i;
    int span = (arity == 3) ? 18 : 12;
    int bits = span * arity;
    uint64_t hh_mask = bits >= 64 ? ~0ULL : ((1ULL << bits) - 1);
    uint64_t fp_mask = fp_bits >= 64 ? ~0ULL : ((1ULL << fp_bits) - 1);
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = murmur_mix(hashes[i], seed);
        uint64_t hl = mulhi64(h, scl);
        uint64_t acc = (h ^ (h >> 32)) & fp_mask;
        for (int j = 0; j < arity; j++) {
            uint64_t p = xorf_pos(h, hl, hh_mask, span, arity, j, seg_len, seg_mask);
            acc ^= fps[p] & fp_mask;
        }
        out[i] = acc == 0;
    }
}

/* ---------------- ribbon (ref src/ribbon.zig) ---------------- */

/* Vectorized-batch ribbon probe (ref src/ribbon.zig:141-192): recompute
 * the key's start/coeff/result, XOR the solution rows selected by the
 * coefficient bits, compare. The solution arrives in its NATIVE storage
 * width (elem_bytes 1/2/4) — probing u16 rows touches an 8x smaller
 * window than the former u64-widened form (256B vs 1KB for u128), and the
 * u16 case runs the same 16-lane mask-expand SIMD shape as the
 * reference's 256-bit probe (src/ribbon.zig:161-191). */
#if defined(__AVX2__)
#include <immintrin.h>
/* XOR of wnd[j] over set bits j of the coefficient row, 16 u16 lanes per
 * step: broadcast 16 coefficient bits, select lanes via and+cmpeq against
 * per-lane bit masks, mask the 16 contiguous solution rows, accumulate. */
static inline uint16_t rib_probe16_avx2(const uint16_t *wnd, uint64_t clo,
                                        uint64_t chi, int chunks) {
    const __m256i sel = _mm256_setr_epi16(
        1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192,
        16384, (short)0x8000);
    __m256i acc = _mm256_setzero_si256();
    for (int c = 0; c < chunks; c++) {
        uint64_t src = c < 4 ? (clo >> (c * 16)) : (chi >> ((c - 4) * 16));
        __m256i b = _mm256_set1_epi16((short)(uint16_t)src);
        __m256i m = _mm256_cmpeq_epi16(_mm256_and_si256(b, sel), sel);
        acc = _mm256_xor_si256(
            acc, _mm256_and_si256(
                     m, _mm256_loadu_si256((const __m256i *)(wnd + c * 16))));
    }
    __m128i x = _mm_xor_si128(_mm256_castsi256_si128(acc),
                              _mm256_extracti128_si256(acc, 1));
    x = _mm_xor_si128(x, _mm_srli_si128(x, 8));
    x = _mm_xor_si128(x, _mm_srli_si128(x, 4));
    x = _mm_xor_si128(x, _mm_srli_si128(x, 2));
    return (uint16_t)_mm_cvtsi128_si32(x);
}
#endif

#define RIB_SCALAR_PROBE(T)                                                  \
    do {                                                                     \
        const T *sol = (const T *)solution;                                  \
        uint64_t acc = 0;                                                    \
        while (clo) {                                                        \
            acc ^= sol[start + __builtin_ctzll(clo)];                        \
            clo &= clo - 1;                                                  \
        }                                                                    \
        while (chi) {                                                        \
            acc ^= sol[start + 64 + __builtin_ctzll(chi)];                   \
            chi &= chi - 1;                                                  \
        }                                                                    \
        out[i] = acc == expected;                                            \
    } while (0)

void ribbon_contains(const void *solution, int64_t size, uint64_t seed,
                     int32_t coeff_bits, int32_t result_bits,
                     int32_t elem_bytes,
                     const uint64_t *hashes, int64_t n, uint8_t *out) {
    int64_t start_range = size + 1 - coeff_bits;
    uint64_t w = (uint64_t)(coeff_bits / 8);
    uint64_t rmask = result_bits >= 64 ? ~0ULL : ((1ULL << result_bits) - 1);
    uint64_t sa = seed * 0x876f170be4f1fcb9ULL;
    uint64_t sb = seed * 0xf0433a4aecda4c5fULL;
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = hashes[i];
        uint64_t hash0 = seed ^ h;
        uint64_t h32 = (hash0 ^ (hash0 >> 32)) & 0xffffffffULL;
        uint64_t smash = (((uint64_t)start_range + w * 2) * h32) >> 32;
        uint64_t pos = smash > w ? smash - w : 0;
        uint64_t lim = (uint64_t)(start_range - 1);
        int64_t start = (int64_t)(pos < lim ? pos : lim);
        uint64_t expected = ((hash0 >> 32) ^ hash0) & rmask;
        uint64_t clo, chi;
        if (coeff_bits == 128) {
            chi = sa ^ h;
            clo = (sb ^ __builtin_bswap64(h)) | 1ULL;
        } else {
            chi = 0;
            clo = coeff_bits == 32 ? ((hash0 & 0xffffffffULL) | 1ULL)
                                   : (hash0 | 1ULL);
        }
#if defined(__AVX2__)
        if (elem_bytes == 2) {
            uint16_t acc = rib_probe16_avx2(
                (const uint16_t *)solution + start, clo, chi, coeff_bits / 16);
            out[i] = acc == (uint16_t)expected;
            continue;
        }
#endif
        if (elem_bytes == 2)
            RIB_SCALAR_PROBE(uint16_t);
        else if (elem_bytes == 1)
            RIB_SCALAR_PROBE(uint8_t);
        else if (elem_bytes == 4)
            RIB_SCALAR_PROBE(uint32_t);
        else
            RIB_SCALAR_PROBE(uint64_t);
    }
}

/* Full construction attempt: per-key params (ref src/ribbon.zig:9-49),
 * single-pass stable bucket sort by the top 16 bits of start position
 * (ascending-ish insertion keeps elimination cascades cache-local;
 * solvability is order-independent, and the order is deterministic, so
 * solutions are reproducible), then
 * incremental banded elimination (ref :77-104) + bit-plane
 * back-substitution (ref :108-134) over an interleaved slot array.
 * Returns 0 ok, 1 inconsistent (retry next seed), -1 alloc fail. */
/* packed per-key params, scattered ONCE into stable-sorted order: a single
 * 32B random-write stream instead of four parallel array scatters (the
 * four-stream form walked 4 distinct pages per key — measured ~25% of the
 * u128 attempt wall in TLB/line traffic) */
typedef struct { uint64_t clo, chi, rrow; uint32_t start, pad; } ribkey_t;

int32_t ribbon_attempt(const uint64_t *hashes, int64_t n, uint64_t seed,
                       int64_t size, int32_t coeff_bits, int32_t result_bits,
                       uint64_t *solution_out) {
    int64_t start_range = size + 1 - coeff_bits;
    uint64_t w = (uint64_t)(coeff_bits / 8);
    uint64_t rmask = result_bits >= 64 ? ~0ULL : ((1ULL << result_bits) - 1);
    int use128 = coeff_bits == 128;
    int64_t cap = n > 0 ? n : 1;

    uint32_t *start = (uint32_t *)malloc((size_t)cap * 4);
    ribkey_t *ks = (ribkey_t *)malloc((size_t)cap * sizeof(ribkey_t));
    int64_t *off = (int64_t *)calloc(65537, sizeof(int64_t));
    if (!start || !ks || !off) {
        free(start); free(ks); free(off);
        return -1;
    }

    /* bucket shift: top 16 bits of the start-position range */
    int sbits = 0;
    {
        uint64_t v = start_range > 1 ? (uint64_t)(start_range - 1) : 0;
        while (v) { sbits++; v >>= 1; }
    }
    int shift = sbits > 16 ? sbits - 16 : 0;

    uint64_t sa = seed * 0x876f170be4f1fcb9ULL; /* COEFF_FACTOR0, ref :19 */
    uint64_t sb = seed * 0xf0433a4aecda4c5fULL; /* COEFF_FACTOR1, ref :20 */
    /* pass A: start positions (sequential write) + bucket histogram */
    for (int64_t i = 0; i < n; i++) {
        uint64_t hash0 = seed ^ hashes[i];
        uint64_t h32 = (hash0 ^ (hash0 >> 32)) & 0xffffffffULL;
        uint64_t smash = (((uint64_t)start_range + w * 2) * h32) >> 32;
        uint64_t pos = smash > w ? smash - w : 0;
        uint64_t lim = (uint64_t)(start_range - 1);
        start[i] = (uint32_t)(pos < lim ? pos : lim);
        off[(start[i] >> shift) + 1]++;
    }
    for (int d = 0; d < 65536; d++) off[d + 1] += off[d];
    /* pass B: recompute coeff/result rows (cheap ALU) and scatter the packed
     * struct straight into stable counting-sort order (the same
     * permutation as a stable argsort on the bucket key) */
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = hashes[i];
        uint64_t hash0 = seed ^ h;
        int64_t o = off[start[i] >> shift]++;
        ribkey_t *k = ks + o;
        if (use128) {
            k->chi = sa ^ h;
            k->clo = (sb ^ __builtin_bswap64(h)) | 1ULL;
        } else if (coeff_bits == 32) {
            k->chi = 0;
            k->clo = (hash0 & 0xffffffffULL) | 1ULL;
        } else {
            k->chi = 0;
            k->clo = hash0 | 1ULL;
        }
        k->rrow = ((hash0 >> 32) ^ hash0) & rmask;
        k->start = start[i];
    }

    int32_t status;
    if (!use128) {
        /* coeff and result in SPLIT arrays: the cascade probe touches only
         * the 8B coeff entry; result is read/written only on actual
         * elimination steps */
        uint64_t *coeff = (uint64_t *)calloc((size_t)size, sizeof(uint64_t));
        uint64_t *result = (uint64_t *)calloc((size_t)size, sizeof(uint64_t));
        if (!coeff || !result) { free(coeff); free(result); status = -1; goto done; }
        status = 0;
        for (int64_t t = 0; t < n; t++) {
            int64_t pos = (int64_t)ks[t].start;
            uint64_t cr = ks[t].clo;
            uint64_t rr = ks[t].rrow;
            for (;;) {
                uint64_t ex = coeff[pos];
                if (ex == 0) { coeff[pos] = cr; result[pos] = rr; break; }
                cr ^= ex;
                rr ^= result[pos];
                if (cr == 0) {
                    if (rr != 0) status = 1;
                    break;
                }
                int tz = __builtin_ctzll(cr);
                pos += tz;
                cr >>= tz;
            }
            if (status) break;
        }
        if (status == 0) {
            uint64_t cmask =
                coeff_bits >= 64 ? ~0ULL : ((1ULL << coeff_bits) - 1);
            uint64_t planes[32] = {0};
            for (int64_t i = size - 1; i >= 0; i--) {
                uint64_t cr = coeff[i], rr = result[i], srow = 0;
                for (int j = 0; j < result_bits; j++) {
                    uint64_t tmp = (planes[j] << 1) & cmask;
                    uint64_t bit = (uint64_t)(__builtin_popcountll(tmp & cr) & 1) ^
                                   ((rr >> j) & 1);
                    planes[j] = tmp | bit;
                    srow |= bit << j;
                }
                solution_out[i] = srow;
            }
        }
        free(coeff); free(result);
    } else {
        typedef unsigned __int128 u128;
        u128 *coeff = (u128 *)calloc((size_t)size, sizeof(u128));
        uint64_t *result = (uint64_t *)calloc((size_t)size, sizeof(uint64_t));
        if (!coeff || !result) { free(coeff); free(result); status = -1; goto done; }
        status = 0;
        for (int64_t t = 0; t < n; t++) {
            int64_t pos = (int64_t)ks[t].start;
            u128 cr = ((u128)ks[t].chi << 64) | ks[t].clo;
            uint64_t rr = ks[t].rrow;
            for (;;) {
                u128 ex = coeff[pos];
                if (ex == 0) { coeff[pos] = cr; result[pos] = rr; break; }
                cr ^= ex;
                rr ^= result[pos];
                if (cr == 0) {
                    if (rr != 0) status = 1;
                    break;
                }
                uint64_t lo = (uint64_t)cr;
                int tz = lo ? __builtin_ctzll(lo)
                            : 64 + __builtin_ctzll((uint64_t)(cr >> 64));
                pos += tz;
                cr >>= tz;
            }
            if (status) break;
        }
        if (status == 0) {
            u128 planes[32] = {0};
            for (int64_t i = size - 1; i >= 0; i--) {
                u128 cr = coeff[i];
                uint64_t rr = result[i], srow = 0;
                for (int j = 0; j < result_bits; j++) {
                    u128 tmp = planes[j] << 1;
                    u128 x = tmp & cr;
                    uint64_t par =
                        (uint64_t)(__builtin_popcountll((uint64_t)x) +
                                   __builtin_popcountll((uint64_t)(x >> 64))) & 1;
                    uint64_t bit = par ^ ((rr >> j) & 1);
                    planes[j] = tmp | bit;
                    srow |= bit << j;
                }
                solution_out[i] = srow;
            }
        }
        free(coeff); free(result);
    }

done:
    free(start); free(ks); free(off);
    return status;
}

/* ---------------- km_md5 MinHash signatures ---------------- */

/* MD5 (RFC 1321). Only the signature kernel below uses it: each word
 * k-gram is hashed in place, as the byte range it spans in the text. */
static const uint32_t MD5_K[64] = {
    0xd76aa478, 0xe8c7b756, 0x242070db, 0xc1bdceee, 0xf57c0faf, 0x4787c62a,
    0xa8304613, 0xfd469501, 0x698098d8, 0x8b44f7af, 0xffff5bb1, 0x895cd7be,
    0x6b901122, 0xfd987193, 0xa679438e, 0x49b40821, 0xf61e2562, 0xc040b340,
    0x265e5a51, 0xe9b6c7aa, 0xd62f105d, 0x02441453, 0xd8a1e681, 0xe7d3fbc8,
    0x21e1cde6, 0xc33707d6, 0xf4d50d87, 0x455a14ed, 0xa9e3e905, 0xfcefa3f8,
    0x676f02d9, 0x8d2a4c8a, 0xfffa3942, 0x8771f681, 0x6d9d6122, 0xfde5380c,
    0xa4beea44, 0x4bdecfa9, 0xf6bb4b60, 0xbebfbc70, 0x289b7ec6, 0xeaa127fa,
    0xd4ef3085, 0x04881d05, 0xd9d4d039, 0xe6db99e5, 0x1fa27cf8, 0xc4ac5665,
    0xf4292244, 0x432aff97, 0xab9423a7, 0xfc93a039, 0x655b59c3, 0x8f0ccc92,
    0xffeff47d, 0x85845dd1, 0x6fa87e4f, 0xfe2ce6e0, 0xa3014314, 0x4e0811a1,
    0xf7537e82, 0xbd3af235, 0x2ad7d2bb, 0xeb86d391,
};
static const int MD5_S[16] = {7, 12, 17, 22, 5, 9, 14, 20,
                              4, 11, 16, 23, 6, 10, 15, 21};

static inline uint32_t rotl32(uint32_t x, int s) {
    return (x << s) | (x >> (32 - s));
}

static void md5_block(uint32_t st[4], const uint8_t *p) {
    uint32_t m[16];
    for (int i = 0; i < 16; i++)
        m[i] = (uint32_t)p[4 * i] | (uint32_t)p[4 * i + 1] << 8 |
               (uint32_t)p[4 * i + 2] << 16 | (uint32_t)p[4 * i + 3] << 24;
    uint32_t a = st[0], b = st[1], c = st[2], d = st[3], f, t;
#define MD5_STEP(i, F, g)                                              \
    f = (F) + a + MD5_K[i] + m[g];                                     \
    t = d; d = c; c = b; b += rotl32(f, MD5_S[((i) >> 4) * 4 + ((i) & 3)]); \
    a = t;
#pragma GCC unroll 16
    for (int i = 0; i < 16; i++) { MD5_STEP(i, (b & c) | (~b & d), i) }
#pragma GCC unroll 16
    for (int i = 16; i < 32; i++) { MD5_STEP(i, (d & b) | (~d & c), (5 * i + 1) & 15) }
#pragma GCC unroll 16
    for (int i = 32; i < 48; i++) { MD5_STEP(i, b ^ c ^ d, (3 * i + 5) & 15) }
#pragma GCC unroll 16
    for (int i = 48; i < 64; i++) { MD5_STEP(i, c ^ (b | ~d), (7 * i) & 15) }
#undef MD5_STEP
    st[0] += a; st[1] += b; st[2] += c; st[3] += d;
}

static void md5(const uint8_t *p, int64_t n, uint8_t out[16]) {
    uint32_t st[4] = {0x67452301, 0xefcdab89, 0x98badcfe, 0x10325476};
    int64_t full = n & ~(int64_t)63;
    for (int64_t i = 0; i < full; i += 64) md5_block(st, p + i);
    /* the 0-63 tail bytes, the 0x80 pad byte and the 64-bit bit length
     * fit one block when the tail is under 56 bytes, else two */
    uint8_t tail[128];
    int64_t r = n - full, tl = r < 56 ? 64 : 128;
    memcpy(tail, p + full, (size_t)r);
    tail[r] = 0x80;
    memset(tail + r + 1, 0, (size_t)(tl - r - 9));
    uint64_t bits = (uint64_t)n << 3;
    for (int i = 0; i < 8; i++) tail[tl - 8 + i] = (uint8_t)(bits >> (8 * i));
    md5_block(st, tail);
    if (tl == 128) md5_block(st, tail + 64);
    for (int i = 0; i < 16; i++) out[i] = (uint8_t)(st[i >> 2] >> (8 * (i & 3)));
}

/* Fold one shingle into the doc's band minima: h1 = md5 bytes 0-6 and
 * h2 = bytes 7-13, big-endian (the first and second 14 hex digits of the
 * md5 string); band b keeps min(h1 + b*h2), < 2^60 for b <= 15. */
static inline void km_fold(const uint8_t *p, int64_t n, int32_t num_hashes,
                           int64_t *mins) {
    uint8_t dg[16];
    md5(p, n, dg);
    int64_t h1 = 0, h2 = 0;
    for (int i = 0; i < 7; i++) {
        h1 = (h1 << 8) | dg[i];
        h2 = (h2 << 8) | dg[7 + i];
    }
    for (int32_t b = 0; b < num_hashes; b++) {
        int64_t v = h1 + (int64_t)b * h2;
        if (v < mins[b]) mins[b] = v;
    }
}

/* km_md5 MinHash of each text in an Arrow string buffer (doc i is
 * data[offsets[i] .. offsets[i+1])): out[i*num_hashes + b] = band b's
 * minimum over the doc's word k-grams. Words are split on the byte ' '
 * (empty words kept, as split(text, ' ') does), so a k-gram is the
 * contiguous byte range from the start of its first word to the end of
 * its last; a ring of the last k word starts finds it with no copy and no
 * length cap. A doc of fewer than k words is one shingle, the whole text.
 * k >= 1. Returns 0, or -1 when the ring cannot be allocated. */
int32_t km_md5_minhash(const uint8_t *data, const int64_t *offsets,
                       int64_t n_docs, int32_t k, int32_t num_hashes,
                       int64_t *out) {
    int64_t *ring = (int64_t *)malloc((size_t)k * sizeof(int64_t));
    if (!ring) return -1;
    for (int64_t d = 0; d < n_docs; d++) {
        const uint8_t *s = data + offsets[d];
        int64_t len = offsets[d + 1] - offsets[d];
        int64_t *mins = out + d * num_hashes;
        for (int32_t b = 0; b < num_hashes; b++) mins[b] = INT64_MAX;
        /* words seen so far, and the ring slot of word (words - k), which
         * is also where the next word's start goes */
        int64_t words = 1;
        int32_t slot = 1 % k;
        ring[0] = 0;
        for (int64_t p = 0; p < len; p++) {
            if (s[p] != ' ') continue;
            if (words >= k) km_fold(s + ring[slot], p - ring[slot], num_hashes, mins);
            ring[slot] = p + 1;
            words++;
            if (++slot == k) slot = 0;
        }
        int64_t first = words >= k ? ring[slot] : 0;
        km_fold(s + first, len - first, num_hashes, mins);
    }
    free(ring);
    return 0;
}
