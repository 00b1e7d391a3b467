/*
 * pglz kernels for the cstore v1.7 codec (sources/cstore_format.py).
 *
 * Both functions mirror the Python kernels in cstore_format.py byte for
 * byte: pglz_compress emits the same stream as _pglz_compress_py (same
 * candidate order, same 32-candidate cap, same early stop and abort
 * rule), and pglz_decompress accepts and rejects exactly the streams
 * _pglz_decompress_py does. The stream format is PostgreSQL's LZ
 * (control bytes gate 8 items LSB-first; a literal is one raw byte; a
 * match tag is [off_hi4|len-3][off_lo8] plus one length-extension byte
 * when the nibble saturates at 15), as the reference's
 * cstore_compression.c frames it.
 *
 * Every read and write is bounds-checked against the lengths passed in;
 * a malformed stream returns a negative code instead of touching memory
 * outside the buffers.
 */
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define PGLZ_CAP 32          /* candidates searched per position */
#define PGLZ_MAX_OFF 4095
#define PGLZ_MAX_LEN 273
#define PGLZ_GOOD_LEN 128    /* a match this long stops the search */

/*
 * Decode ``n`` stream bytes at ``src`` into exactly ``rawsize`` bytes at
 * ``dst``. Returns 0, or -1 (bad match offset), -2 (stream ends inside a
 * match tag) or -3 (the stream does not produce ``rawsize`` bytes).
 */
int pglz_decompress(const uint8_t *src, int64_t n, uint8_t *dst,
                    int64_t rawsize)
{
    int64_t pos = 0, out = 0;

    if (rawsize < 0)
        return -3;
    while (pos < n && out < rawsize) {
        unsigned ctrl = src[pos++];
        for (int bit = 0; bit < 8; bit++, ctrl >>= 1) {
            if (pos >= n || out >= rawsize)
                break;
            if (ctrl & 1) {
                int64_t length, offset;
                if (pos + 2 > n)
                    return -2;
                length = (src[pos] & 0x0F) + 3;
                offset = ((int64_t)(src[pos] & 0xF0) << 4) | src[pos + 1];
                pos += 2;
                if (length == 18) {
                    if (pos >= n)
                        return -2;
                    length += src[pos++];
                }
                if (offset == 0 || offset > out)
                    return -1;
                if (length > rawsize - out)
                    return -3;
                if (offset >= length) {
                    memcpy(dst + out, dst + out - offset, (size_t)length);
                    out += length;
                } else {
                    /* overlapping copy: byte by byte, like the format */
                    for (int64_t k = 0; k < length; k++, out++)
                        dst[out] = dst[out - offset];
                }
            } else {
                dst[out++] = src[pos++];
            }
        }
    }
    return out == rawsize ? 0 : -3;
}

/*
 * Greedy LZ over ``n`` bytes at ``src`` into ``dst`` (capacity ``n``).
 * Returns the stream length when it is shorter than the input, -1 when
 * the input is declined (it would not shrink, or the abort rule fired),
 * or -2 when scratch memory cannot be allocated.
 *
 * The candidate list of a 3-byte key is a chain through ``prev`` from
 * the key's newest position; positions enter in increasing order, so
 * walking the chain visits the key's most recent positions first, as
 * the Python kernel's reversed list does.
 */
int64_t pglz_compress(const uint8_t *src, int64_t n, uint8_t *dst)
{
    int64_t out = 0, ctrl_pos = -1, i = 0, abort_at = n >> 2;
    unsigned ctrl = 0, ctrl_bit = 8;
    int64_t slots = 16, result = -1;
    int shift = 28;
    int32_t *keys, *heads, *prev;

    if (n <= 0)
        return -1;
    if (n > INT32_MAX)   /* positions are int32 */
        return -2;
    while (slots < 2 * n) {
        slots <<= 1;
        shift--;
    }
    keys = malloc((size_t)slots * sizeof *keys);
    heads = malloc((size_t)slots * sizeof *heads);
    prev = malloc((size_t)n * sizeof *prev);
    if (!keys || !heads || !prev) {
        result = -2;
        goto done;
    }
    memset(keys, 0xFF, (size_t)slots * sizeof *keys);   /* -1: empty */

#define KEY_AT(p) ((int32_t)src[p] | ((int32_t)src[(p) + 1] << 8) \
                   | ((int32_t)src[(p) + 2] << 16))
#define SLOT_OF(k) ((int64_t)(((uint32_t)(k) * 2654435761u) >> shift))
/* the slot holding key k, or the empty slot where it goes */
#define FIND(k, s) do { s = SLOT_OF(k); \
        while (keys[s] != -1 && keys[s] != (k)) s = (s + 1) & (slots - 1); \
    } while (0)
#define INSERT(p) do { int32_t k_ = KEY_AT(p); int64_t s_; FIND(k_, s_); \
        if (keys[s_] == -1) { keys[s_] = k_; prev[p] = -1; } \
        else prev[p] = heads[s_]; \
        heads[s_] = (int32_t)(p); } while (0)
/* one item's control bit; a full control byte is flushed first */
#define PUT(bitval) do { if (ctrl_bit == 8) { \
            if (ctrl_pos >= 0) dst[ctrl_pos] = (uint8_t)ctrl; \
            if (out >= n) goto done; \
            ctrl_pos = out; dst[out++] = 0; ctrl = 0; ctrl_bit = 0; } \
        ctrl |= (unsigned)(bitval) << ctrl_bit; ctrl_bit++; } while (0)
#define EMIT(byte) do { if (out >= n) goto done; \
        dst[out++] = (uint8_t)(byte); } while (0)

    while (i < n) {
        int64_t best_len = 0, best_off = 0;
        if (i > abort_at && out >= i)
            goto done;
        if (i + 3 <= n) {
            int32_t key = KEY_AT(i);
            int64_t s;
            FIND(key, s);
            if (keys[s] != -1) {
                int64_t j = heads[s];
                int64_t max_len = n - i < PGLZ_MAX_LEN ? n - i : PGLZ_MAX_LEN;
                for (int c = 0; c < PGLZ_CAP && j >= 0; c++, j = prev[j]) {
                    int64_t off = i - j, length = 3;
                    if (off > PGLZ_MAX_OFF)
                        break;
                    while (length < max_len
                           && src[j + length] == src[i + length])
                        length++;
                    if (length > best_len) {
                        best_len = length;
                        best_off = off;
                        if (length >= PGLZ_GOOD_LEN)
                            break;
                    }
                }
            }
        }
        if (best_len >= 3) {
            int64_t ext = best_len - 3;
            int64_t step = best_len < 32 ? 1 : 4;
            PUT(1);
            if (ext >= 15) {
                EMIT(0x0F | ((best_off & 0xF00) >> 4));
                EMIT(best_off & 0xFF);
                EMIT(best_len - 18);
            } else {
                EMIT(ext | ((best_off & 0xF00) >> 4));
                EMIT(best_off & 0xFF);
            }
            for (int64_t k = 0; k < best_len; k += step)
                if (i + k + 3 <= n)
                    INSERT(i + k);
            i += best_len;
        } else {
            PUT(0);
            EMIT(src[i]);
            if (i + 3 <= n)
                INSERT(i);
            i++;
        }
    }
    if (ctrl_pos >= 0)
        dst[ctrl_pos] = (uint8_t)ctrl;
    if (out < n)
        result = out;
done:
    free(keys);
    free(heads);
    free(prev);
    return result;
}
