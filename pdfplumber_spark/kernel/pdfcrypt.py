"""PDF encryptor for fixture generation: re-writes an unencrypted PDF with
the standard security handler (RC4-128 V2/R3, AES-128 V4/R4 AESV2,
AES-256 V5/R6 AESV3).

Test-infrastructure counterpart of the decryption path in ``pdfparse``
(reference behavior: pdfminer's security handlers, exercised via
pdfplumber.open(password=...), reference tests/test_basics.py:154-157).
Everything is deterministic: "random" salts/IVs/file keys derive from a
seed so fixture corpora stay byte-identical across runs.
"""

from __future__ import annotations

import hashlib
from typing import Optional

from .aes import cbc_encrypt, encrypt_block, _round_keys
from .pdfparse import (
    Name,
    PDFDocument,
    Ref,
    StreamObj,
    _PAD,
    _hash_2b,
    _rc4,
    _std_key,
    _std_user_check,
)
from .pdfwrite import live_objects, serialize, write_pdf


# --- per-object encryption -----------------------------------------------------

def _obj_key_rc4(file_key: bytes, num: int, gen: int, aes: bool) -> bytes:
    h = hashlib.md5(
        file_key + (num & 0xFFFFFF).to_bytes(3, "little")
        + (gen & 0xFFFF).to_bytes(2, "little")
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


def _enc_bytes(data: bytes, num: int, gen: int, method: str,
               file_key: bytes, seed: bytes) -> bytes:
    if method == "rc4":
        return _rc4(_obj_key_rc4(file_key, num, gen, False), data)
    iv = hashlib.md5(seed + b"%d:%d:%d" % (num, gen, len(data))).digest()
    if method == "aes128":
        key = _obj_key_rc4(file_key, num, gen, True)
    else:  # aes256
        key = file_key
    return iv + cbc_encrypt(key, data, iv)


def _encrypt_obj(obj, num: int, gen: int, method: str, file_key: bytes,
                 seed: bytes):
    if isinstance(obj, StreamObj):
        raw = _enc_bytes(obj.raw, num, gen, method, file_key, seed)
        return StreamObj(
            _encrypt_obj(obj.attrs, num, gen, method, file_key, seed), raw)
    if isinstance(obj, Name):
        return obj
    if isinstance(obj, (bytes, bytearray)):
        return _enc_bytes(bytes(obj), num, gen, method, file_key, seed)
    if isinstance(obj, dict):
        return {
            k: _encrypt_obj(v, num, gen, method, file_key, seed)
            for k, v in obj.items()
        }
    if isinstance(obj, list):
        return [_encrypt_obj(v, num, gen, method, file_key, seed) for v in obj]
    return obj


# --- security-handler entry computation ----------------------------------------

def _rc4_owner_entry(owner_pw: bytes, user_pw: bytes, r: int,
                     key_len: int) -> bytes:
    """Algorithm 3: the O entry."""
    key = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:key_len]
    data = (user_pw + _PAD)[:32]
    if r == 2:
        return _rc4(key, data)
    for i in range(20):
        data = _rc4(bytes(b ^ i for b in key), data)
    return data


def encrypt_pdf(
    data: bytes,
    user_pw: str = "",
    owner_pw: Optional[str] = None,
    method: str = "aes128",
    p: int = -4,
    seed: bytes = b"spark-graft-fixture",
) -> bytes:
    """Rewrite ``data`` encrypted with the standard security handler.

    ``method``: 'rc4' (V2/R3, 128-bit), 'aes128' (V4/R4 AESV2),
    'aes256' (V5/R6 AESV3), 'aes256r5' (V5/R5 — legacy Adobe rev 5, cheap
    SHA-256 password hash; corpus generation favors it because the R6
    hardened hash costs ~0.5 s/call even with T-table AES)."""
    assert method in ("rc4", "aes128", "aes256", "aes256r5")
    upw = user_pw.encode("latin-1", "replace")
    opw = (owner_pw if owner_pw is not None else user_pw).encode(
        "latin-1", "replace"
    )
    doc = PDFDocument(data)
    id0 = hashlib.md5(data + seed).digest()

    if method in ("aes256", "aes256r5"):
        r5 = method == "aes256r5"
        h = hashlib.sha256(seed)
        file_key = h.digest()
        uvs = hashlib.sha256(seed + b"uvs").digest()[:8]
        uks = hashlib.sha256(seed + b"uks").digest()[:8]
        ovs = hashlib.sha256(seed + b"ovs").digest()[:8]
        oks = hashlib.sha256(seed + b"oks").digest()[:8]
        upw256 = upw[:127]
        opw256 = opw[:127]
        if r5:
            uhash = lambda p, s, u=b"": hashlib.sha256(p + s + u).digest()  # noqa: E731
        else:
            uhash = _hash_2b
        u_entry = uhash(upw256, uvs) + uvs + uks
        ue = cbc_encrypt(uhash(upw256, uks), file_key, iv=b"\x00" * 16,
                         pad=False)
        o_entry = uhash(opw256, ovs, u_entry[:48]) + ovs + oks
        oe = cbc_encrypt(uhash(opw256, oks, u_entry[:48]), file_key,
                         iv=b"\x00" * 16, pad=False)
        perms_plain = (
            (p & 0xFFFFFFFF).to_bytes(4, "little") + b"\xff\xff\xff\xff"
            + b"Tadb" + hashlib.md5(seed + b"perms").digest()[:4]
        )
        perms = encrypt_block(perms_plain, _round_keys(file_key))
        enc_dict = {
            Name("Filter"): Name("Standard"),
            Name("V"): 5, Name("R"): 5 if r5 else 6, Name("Length"): 256,
            Name("P"): p,
            Name("CF"): {Name("StdCF"): {
                Name("CFM"): Name("AESV3"),
                Name("AuthEvent"): Name("DocOpen"), Name("Length"): 32,
            }},
            Name("StmF"): Name("StdCF"), Name("StrF"): Name("StdCF"),
            Name("O"): o_entry, Name("U"): u_entry,
            Name("OE"): oe, Name("UE"): ue, Name("Perms"): perms,
        }
    else:
        r = 4 if method == "aes128" else 3
        key_len = 16
        o_entry = _rc4_owner_entry(opw, upw, r, key_len)
        file_key = _std_key(upw, o_entry, p, id0, r, key_len)
        u_entry = _std_user_check(file_key, r, id0)
        enc_dict = {
            Name("Filter"): Name("Standard"),
            Name("V"): 4 if method == "aes128" else 2,
            Name("R"): r, Name("Length"): key_len * 8,
            Name("P"): p,
            Name("O"): o_entry, Name("U"): u_entry[:32],
        }
        if method == "aes128":
            enc_dict[Name("CF")] = {Name("StdCF"): {
                Name("CFM"): Name("AESV2"),
                Name("AuthEvent"): Name("DocOpen"), Name("Length"): 16,
            }}
            enc_dict[Name("StmF")] = Name("StdCF")
            enc_dict[Name("StrF")] = Name("StdCF")

    # re-emit every object, encrypting strings + streams
    bodies = {
        num: serialize(_encrypt_obj(obj, num, 0, method, file_key, seed))
        for num, obj in live_objects(doc).items()
    }
    enc_num = max(bodies, default=0) + 1
    bodies[enc_num] = serialize(enc_dict)
    trailer = {
        "Root": doc.trailer.get("Root"),
        "Encrypt": Ref(enc_num, 0),
        "ID": [id0, id0],
    }
    return write_pdf(b"%PDF-1.6\n", bodies, trailer)
