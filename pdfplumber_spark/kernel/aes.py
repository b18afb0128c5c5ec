"""Pure-Python AES (128/192/256) + CBC helpers for the PDF standard
security handler (ISO 32000 §7.6.2: AESV2 = AES-128-CBC, AESV3 =
AES-256-CBC; reference behavior = pdfminer's pdfminer/ccitt-free AES path
via its crypto module, pdfminer.pdfdocument ~AESV2/AESV3 handlers).

No external crypto libs are available offline; this is the textbook FIPS-197
implementation with precomputed tables. Encrypted PDFs are a small corpus
fraction, and decryption touches only string/stream bytes once per object —
not a per-char hot path — so pure Python is acceptable here; at cluster
scale swap ``cbc_decrypt`` for ``cryptography``'s EVP with the same
signature.
"""

from __future__ import annotations

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
)
_INV_SBOX = bytes(256)
_INV_SBOX = bytearray(256)
for _i, _v in enumerate(_SBOX):
    _INV_SBOX[_v] = _i
_INV_SBOX = bytes(_INV_SBOX)

_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36,
         0x6C, 0xD8, 0xAB, 0x4D]


def _xtime(a: int) -> int:
    a <<= 1
    if a & 0x100:
        a ^= 0x11B
    return a & 0xFF


# GF(2^8) multiply tables for MixColumns / InvMixColumns
def _mul_table(c: int) -> bytes:
    t = bytearray(256)
    for x in range(256):
        r, a, b = 0, x, c
        while b:
            if b & 1:
                r ^= a
            a = _xtime(a)
            b >>= 1
        t[x] = r
    return bytes(t)


_M2, _M3 = _mul_table(2), _mul_table(3)
_M9, _M11, _M13, _M14 = (_mul_table(c) for c in (9, 11, 13, 14))


def key_expansion(key: bytes) -> list:
    """Round keys as a flat list of 4-byte words."""
    nk = len(key) // 4
    assert nk in (4, 6, 8), "AES key must be 128/192/256 bits"
    nr = nk + 6
    words = [key[4 * i:4 * i + 4] for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        temp = words[i - 1]
        if i % nk == 0:
            temp = bytes(
                _SBOX[temp[(j + 1) % 4]] ^ (_RCON[i // nk - 1] if j == 0 else 0)
                for j in range(4)
            )
        elif nk > 6 and i % nk == 4:
            temp = bytes(_SBOX[b] for b in temp)
        words.append(bytes(a ^ b for a, b in zip(words[i - nk], temp)))
    return words


def _round_keys(key: bytes) -> list:
    w = key_expansion(key)
    return [b"".join(w[4 * r:4 * r + 4]) for r in range(len(w) // 4)]


# T-tables (classic public optimization: one u32 lookup folds SubBytes +
# ShiftRows + MixColumns per byte) — encrypt is the hot path via the R6
# password hash (Algorithm 2.B runs AES-128-CBC over ~KBs x 64+ rounds).
def _build_te():
    te0 = [0] * 256
    for x in range(256):
        s = _SBOX[x]
        te0[x] = (_M2[s] << 24) | (s << 16) | (s << 8) | _M3[s]
    rotr8 = lambda v: ((v >> 8) | ((v & 0xFF) << 24)) & 0xFFFFFFFF  # noqa: E731
    te1 = [rotr8(v) for v in te0]
    te2 = [rotr8(v) for v in te1]
    te3 = [rotr8(v) for v in te2]
    return te0, te1, te2, te3


_TE0, _TE1, _TE2, _TE3 = _build_te()


def _rk_words(rk: list) -> list:
    """Round keys as per-round 4-tuples of big-endian u32 column words."""
    out = []
    for k in rk:
        out.append(
            (
                int.from_bytes(k[0:4], "big"),
                int.from_bytes(k[4:8], "big"),
                int.from_bytes(k[8:12], "big"),
                int.from_bytes(k[12:16], "big"),
            )
        )
    return out


def encrypt_block(block: bytes, rk: list) -> bytes:
    kw = rk[-1] if isinstance(rk[-1], list) else None
    words = _rk_words(rk) if kw is None else rk
    return _encrypt_block_words(
        (
            int.from_bytes(block[0:4], "big"),
            int.from_bytes(block[4:8], "big"),
            int.from_bytes(block[8:12], "big"),
            int.from_bytes(block[12:16], "big"),
        ),
        words,
        len(rk) - 1,
    ).to_bytes(16, "big")


def _encrypt_block_words(cols, kwords, nr) -> int:
    """AES encrypt on 4 u32 column words; returns the 128-bit result int."""
    te0, te1, te2, te3 = _TE0, _TE1, _TE2, _TE3
    k = kwords[0]
    w0 = cols[0] ^ k[0]
    w1 = cols[1] ^ k[1]
    w2 = cols[2] ^ k[2]
    w3 = cols[3] ^ k[3]
    for r in range(1, nr):
        k = kwords[r]
        t0 = (te0[w0 >> 24] ^ te1[(w1 >> 16) & 0xFF]
              ^ te2[(w2 >> 8) & 0xFF] ^ te3[w3 & 0xFF] ^ k[0])
        t1 = (te0[w1 >> 24] ^ te1[(w2 >> 16) & 0xFF]
              ^ te2[(w3 >> 8) & 0xFF] ^ te3[w0 & 0xFF] ^ k[1])
        t2 = (te0[w2 >> 24] ^ te1[(w3 >> 16) & 0xFF]
              ^ te2[(w0 >> 8) & 0xFF] ^ te3[w1 & 0xFF] ^ k[2])
        t3 = (te0[w3 >> 24] ^ te1[(w0 >> 16) & 0xFF]
              ^ te2[(w1 >> 8) & 0xFF] ^ te3[w2 & 0xFF] ^ k[3])
        w0, w1, w2, w3 = t0, t1, t2, t3
    k = kwords[nr]
    sb = _SBOX
    o0 = ((sb[w0 >> 24] << 24) | (sb[(w1 >> 16) & 0xFF] << 16)
          | (sb[(w2 >> 8) & 0xFF] << 8) | sb[w3 & 0xFF]) ^ k[0]
    o1 = ((sb[w1 >> 24] << 24) | (sb[(w2 >> 16) & 0xFF] << 16)
          | (sb[(w3 >> 8) & 0xFF] << 8) | sb[w0 & 0xFF]) ^ k[1]
    o2 = ((sb[w2 >> 24] << 24) | (sb[(w3 >> 16) & 0xFF] << 16)
          | (sb[(w0 >> 8) & 0xFF] << 8) | sb[w1 & 0xFF]) ^ k[2]
    o3 = ((sb[w3 >> 24] << 24) | (sb[(w0 >> 16) & 0xFF] << 16)
          | (sb[(w1 >> 8) & 0xFF] << 8) | sb[w2 & 0xFF]) ^ k[3]
    return (o0 << 96) | (o1 << 64) | (o2 << 32) | o3


def _decrypt_blocks_np(data: bytes, key: bytes):
    """Vectorized AES-ECB decrypt of all 16-byte blocks at once (numpy).

    Unlike CBC *encryption*, CBC *decryption* is block-parallel:
    P_i = D(C_i) XOR C_{i-1} — so D runs batched over every block."""
    import numpy as np

    global _NP_TABLES
    if _NP_TABLES is None:
        inv_sbox = np.frombuffer(_INV_SBOX, dtype=np.uint8)
        m9 = np.frombuffer(_M9, dtype=np.uint8)
        m11 = np.frombuffer(_M11, dtype=np.uint8)
        m13 = np.frombuffer(_M13, dtype=np.uint8)
        m14 = np.frombuffer(_M14, dtype=np.uint8)
        # InvShiftRows gather index: out[4c+r] = s[4*((c-r)%4)+r]
        ishift = np.array(
            [(4 * ((i // 4 - i % 4) % 4) + i % 4) for i in range(16)],
            dtype=np.intp,
        )
        _NP_TABLES = (inv_sbox, m9, m11, m13, m14, ishift)
    inv_sbox, m9, m11, m13, m14, ishift = _NP_TABLES

    rk = _round_keys(key)
    nr = len(rk) - 1
    rks = [np.frombuffer(k, dtype=np.uint8) for k in rk]
    s = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16).copy()
    s ^= rks[nr]
    for rnd in range(nr - 1, 0, -1):
        s = inv_sbox[s[:, ishift]]
        s ^= rks[rnd]
        # InvMixColumns on the 4 columns (axis-1 groups of 4)
        a = s.reshape(-1, 4, 4)
        a0, a1, a2, a3 = a[:, :, 0], a[:, :, 1], a[:, :, 2], a[:, :, 3]
        m = np.empty_like(a)
        m[:, :, 0] = m14[a0] ^ m11[a1] ^ m13[a2] ^ m9[a3]
        m[:, :, 1] = m9[a0] ^ m14[a1] ^ m11[a2] ^ m13[a3]
        m[:, :, 2] = m13[a0] ^ m9[a1] ^ m14[a2] ^ m11[a3]
        m[:, :, 3] = m11[a0] ^ m13[a1] ^ m9[a2] ^ m14[a3]
        s = m.reshape(-1, 16)
    s = inv_sbox[s[:, ishift]]
    s ^= rks[0]
    return s


_NP_TABLES = None


def cbc_decrypt(key: bytes, data: bytes, iv: bytes = None,
                unpad: bool = True) -> bytes:
    """AES-CBC decrypt. If ``iv`` is None the first 16 bytes of ``data`` are
    the IV (the PDF stream layout). ``unpad`` strips PKCS#5/7 padding."""
    import numpy as np

    if iv is None:
        iv, data = data[:16], data[16:]
    n = len(data) - (len(data) % 16)
    data = data[:n]
    if not data:
        return b""
    dec = _decrypt_blocks_np(data, key)
    prev = np.frombuffer(iv + data[:-16], dtype=np.uint8).reshape(-1, 16)
    out = bytearray((dec ^ prev).tobytes())
    if unpad and out:
        pad = out[-1]
        if 1 <= pad <= 16:
            out = out[:-pad]
    return bytes(out)


def cbc_encrypt(key: bytes, data: bytes, iv: bytes, pad: bool = True) -> bytes:
    """AES-CBC encrypt; prepends nothing (caller decides the iv layout).
    ``pad`` applies PKCS#5/7 padding (always a full pad block when aligned)."""
    if pad:
        p = 16 - (len(data) % 16)
        data = data + bytes([p]) * p
    kwords = _rk_words(_round_keys(key))
    nr = len(kwords) - 1
    out = bytearray()
    prev = int.from_bytes(iv, "big")
    mask32 = 0xFFFFFFFF
    for i in range(0, len(data), 16):
        x = int.from_bytes(data[i:i + 16], "big") ^ prev
        prev = _encrypt_block_words(
            (x >> 96, (x >> 64) & mask32, (x >> 32) & mask32, x & mask32),
            kwords,
            nr,
        )
        out += prev.to_bytes(16, "big")
    return bytes(out)
