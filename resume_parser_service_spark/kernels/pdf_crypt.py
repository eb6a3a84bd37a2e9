"""PDF Standard Security Handler — decrypt AND deterministic encrypt.

Pure stdlib (hashlib + integer math): RC4 for V1/V2 (R2/R3), AES-128-CBC
for V4 /AESV2 (R4) and AES-256-CBC for V5 /AESV3 (R5/R6), per ISO
32000-1 §7.6 and ISO 32000-2 §7.6.4 (Algorithm 2, 2.A, 2.B, 3, 4, 5).
Crawled PDFs are very often "encrypted but openable" — owner-password
protected with an EMPTY user password — and the reference service simply
fails those into its error path (``/root/reference/app/services/
resume_parser.py`` converts any pdf2image failure to
FileProcessingError). Here the standard handler is implemented so
``kernels/pdf_text.extract_pdf`` returns byte-identical text for the
encrypted and plaintext forms of the same document.

``encrypt_pdf`` re-serializes a parsed PDF with encryption applied so
tests and driver queries can generate encrypted fixtures with NO
randomness: /ID, salts, file keys and CBC IVs all derive from the input
bytes, so fixture generation is reproducible bit-for-bit.
"""

from __future__ import annotations

import functools
import hashlib
import struct

# Optional hardware-accelerated primitives. AES and RC4 are fully
# specified (FIPS-197 / the well-known RC4 KSA+PRGA), so any conforming
# implementation is byte-identical to the pure-Python reference below —
# the fast path changes wall-clock only, never output. The pure-Python
# code remains both the fallback and the executable spec
# (tests/test_pdf_crypt.py cross-checks the two).
try:  # pragma: no cover - environment-dependent
    from cryptography.hazmat.primitives.ciphers import (Cipher as _Cipher,
                                                        algorithms as _calg,
                                                        modes as _cmodes)
    try:  # ARC4 moved to the decrepit namespace in cryptography >= 43
        from cryptography.hazmat.decrepit.ciphers.algorithms import (
            ARC4 as _ARC4)
    except ImportError:  # pragma: no cover
        _ARC4 = _calg.ARC4
    _HAVE_FAST_CRYPTO = True
except ImportError:  # pragma: no cover
    _HAVE_FAST_CRYPTO = False

__all__ = [
    "CryptError",
    "StandardSecurityHandler",
    "rc4",
    "aes_cbc_encrypt",
    "aes_cbc_decrypt",
    "encrypt_pdf",
    "MODES",
]


class CryptError(ValueError):
    """Unsupported/undecryptable encryption (wrong password, bad dict)."""


# 32-byte password pad string, ISO 32000-1 Table 21 / Algorithm 2 step a.
_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4_chain(key: bytes, data: bytes, rounds) -> bytes:
    """Algorithm 3/4/5/7 RC4 chain: apply RC4 with ``key XOR i`` for
    each i in ``rounds`` (encrypt: 1..19 ascending after the i=0 pass;
    decrypt/recover: 19..0 descending)."""
    for i in rounds:
        data = rc4(bytes(b ^ i for b in key), data)
    return data


def _owner_key(owner_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3 steps a-d: the RC4 key that encrypts /O."""
    h = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    return h[:n]


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: same call encrypts and decrypts)."""
    # cryptography's ARC4 accepts only the standard key sizes; RC4
    # itself takes any 1-256 byte key, so odd sizes (seen in crawled
    # PDFs and test vectors) stay on the pure-Python reference path
    if _HAVE_FAST_CRYPTO and len(key) in (5, 7, 8, 10, 16, 20, 24, 32):
        enc = _Cipher(_ARC4(key), mode=None).encryptor()
        return enc.update(data) + enc.finalize()
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------- AES
# FIPS-197, tables generated at import from GF(2^8) arithmetic.

def _build_aes_tables():
    exp = [0] * 510
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        # multiply by 3 (generator): x ^= xtime(x)
        x ^= ((x << 1) ^ 0x1B) & 0xFF if x & 0x80 else (x << 1)
    for i in range(255, 510):
        exp[i] = exp[i - 255]
    sbox = [0] * 256
    for b in range(256):
        inv = exp[255 - log[b]] if b else 0
        s = inv
        for _ in range(4):
            inv = ((inv << 1) | (inv >> 7)) & 0xFF
            s ^= inv
        sbox[b] = s ^ 0x63
    inv_sbox = [0] * 256
    for i, v in enumerate(sbox):
        inv_sbox[v] = i
    return exp, log, sbox, inv_sbox


_EXP, _LOG, _SBOX, _INV_SBOX = _build_aes_tables()


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _EXP[_LOG[a] + _LOG[b]]


def _expand_key(key: bytes) -> list[list[int]]:
    nk = len(key) // 4
    if nk not in (4, 8):
        raise CryptError(f"bad AES key length {len(key)}")
    rounds = nk + 6
    w = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (rounds + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = [_SBOX[t[1]] ^ rcon, _SBOX[t[2]], _SBOX[t[3]], _SBOX[t[0]]]
            rcon = _gmul(rcon, 2) if rcon != 0x80 else 0x1B
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([w[i - nk][j] ^ t[j] for j in range(4)])
    # group words into 16-byte round keys
    return [[b for word in w[4 * r:4 * r + 4] for b in word]
            for r in range(rounds + 1)]


def _add_rk(state: list[int], rk: list[int]) -> None:
    for i in range(16):
        state[i] ^= rk[i]


# state layout: state[4*c + r] = byte r of column c (column-major,
# matching the round-key byte order above).
_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def _encrypt_block(rks: list[list[int]], block: bytes) -> bytes:
    state = list(block)
    _add_rk(state, rks[0])
    for rnd in range(1, len(rks)):
        state = [_SBOX[state[i]] for i in _SHIFT]
        if rnd < len(rks) - 1:
            out = [0] * 16
            for c in range(4):
                a0, a1, a2, a3 = state[4 * c:4 * c + 4]
                out[4 * c] = _gmul(a0, 2) ^ _gmul(a1, 3) ^ a2 ^ a3
                out[4 * c + 1] = a0 ^ _gmul(a1, 2) ^ _gmul(a2, 3) ^ a3
                out[4 * c + 2] = a0 ^ a1 ^ _gmul(a2, 2) ^ _gmul(a3, 3)
                out[4 * c + 3] = _gmul(a0, 3) ^ a1 ^ a2 ^ _gmul(a3, 2)
            state = out
        _add_rk(state, rks[rnd])
    return bytes(state)


def _decrypt_block(rks: list[list[int]], block: bytes) -> bytes:
    state = list(block)
    _add_rk(state, rks[-1])
    for rnd in range(len(rks) - 2, -1, -1):
        state = [state[i] for i in _INV_SHIFT]
        state = [_INV_SBOX[b] for b in state]
        _add_rk(state, rks[rnd])
        if rnd > 0:
            out = [0] * 16
            for c in range(4):
                a0, a1, a2, a3 = state[4 * c:4 * c + 4]
                out[4 * c] = (_gmul(a0, 14) ^ _gmul(a1, 11)
                              ^ _gmul(a2, 13) ^ _gmul(a3, 9))
                out[4 * c + 1] = (_gmul(a0, 9) ^ _gmul(a1, 14)
                                  ^ _gmul(a2, 11) ^ _gmul(a3, 13))
                out[4 * c + 2] = (_gmul(a0, 13) ^ _gmul(a1, 9)
                                  ^ _gmul(a2, 14) ^ _gmul(a3, 11))
                out[4 * c + 3] = (_gmul(a0, 11) ^ _gmul(a1, 13)
                                  ^ _gmul(a2, 9) ^ _gmul(a3, 14))
            state = out
    return bytes(state)


def _fast_aes(key: bytes) -> bool:
    """Whether to use the library AES: only for the key sizes the
    pure-Python path accepts (``_expand_key``: 16/32 bytes, the sizes
    ISO 32000 uses), so a 24-byte key fails the same way whether or
    not ``cryptography`` is installed."""
    return _HAVE_FAST_CRYPTO and len(key) in (16, 32)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes,
                    pad: bool = True) -> bytes:
    """AES-CBC. With ``pad`` applies PKCS#7 (ISO 32000-1 §7.6.2 block
    padding); without, ``data`` must already be block-aligned."""
    if pad:
        n = 16 - len(data) % 16
        data = data + bytes([n]) * n
    elif len(data) % 16:
        raise CryptError("unpadded AES input not block-aligned")
    if _fast_aes(key):
        enc = _Cipher(_calg.AES(key), _cmodes.CBC(iv)).encryptor()
        return enc.update(data) + enc.finalize()
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        block = bytes(a ^ b for a, b in zip(data[i:i + 16], prev))
        prev = _encrypt_block(rks, block)
        out += prev
    return bytes(out)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes,
                    unpad: bool = True) -> bytes:
    if len(data) % 16:
        # tolerate trailing slack bytes (crawled PDFs): drop them
        data = data[:len(data) - len(data) % 16]
    if _fast_aes(key):
        dec = _Cipher(_calg.AES(key), _cmodes.CBC(iv)).decryptor()
        out = bytearray(dec.update(data) + dec.finalize())
    else:
        rks = _expand_key(key)
        out = bytearray()
        prev = iv
        for i in range(0, len(data), 16):
            block = data[i:i + 16]
            plain = _decrypt_block(rks, block)
            out += bytes(a ^ b for a, b in zip(plain, prev))
            prev = block
    if unpad and out:
        n = out[-1]
        if 1 <= n <= 16 and len(out) >= n:
            out = out[:-n]
    return bytes(out)


@functools.lru_cache(maxsize=256)
def _hash_2b(r: int, password: bytes, salt: bytes,
             udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B hardened hash (2.A step for R5).

    Cached: the iterated AES-CBC loop costs tens of ms in pure Python
    and its inputs repeat heavily when fixtures share salts — the
    fixture encryptor uses FIXED salts (file keys stay per-document)
    precisely so bulk encrypted-fixture generation amortizes this."""
    k = hashlib.sha256(password + salt + udata).digest()
    if r == 5:
        return k
    i = 0
    e = b"\x00"
    while i < 64 or e[-1] > i - 32:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
    return k[:32]


# ----------------------------------------------- standard handler

def _as_bytes(v) -> bytes:
    if isinstance(v, bytes):
        return v
    if isinstance(v, str):
        return v.encode("latin-1", "replace")
    return b""


class StandardSecurityHandler:
    """Filter /Standard. Derives the file key from ``password``
    (default: the empty user password — the common openable case) and
    decrypts strings/streams with per-object keys.

    ``enc`` is the /Encrypt dictionary with all values already
    resolved to plain Python (ints, bytes, str names, nested dicts).
    Raises CryptError when the password fails validation or the
    V/R/CFM combination is unsupported.
    """

    def __init__(self, enc: dict, id0: bytes, password: bytes = b""):
        try:
            self.v = int(enc.get("V", 0))
            self.r = int(enc.get("R", 2))
            self.length = int(enc.get("Length", 40))
        except (TypeError, ValueError):
            raise CryptError("non-numeric /V, /R or /Length")
        self.o = _as_bytes(enc.get("O"))
        self.u = _as_bytes(enc.get("U"))
        self.oe = _as_bytes(enc.get("OE"))
        self.ue = _as_bytes(enc.get("UE"))
        p = enc.get("P", -1)
        self.p = int(p) if isinstance(p, (int, float)) \
            and not isinstance(p, bool) else -1
        # stored unsigned (or junk-width) by some writers: reduce to
        # the signed 32-bit value Algorithm 2 packs
        self.p &= 0xFFFFFFFF
        if self.p > 0x7FFFFFFF:
            self.p -= 0x100000000
        em = enc.get("EncryptMetadata", True)
        self.encrypt_metadata = bool(em) if isinstance(em, bool) else True
        self.id0 = id0
        if self.v in (1, 2):
            self.stm_cfm = self.str_cfm = "V2"
        elif self.v == 4:
            self.stm_cfm = self._cfm(enc, enc.get("StmF", "Identity"))
            self.str_cfm = self._cfm(enc, enc.get("StrF", "Identity"))
            if "Length" not in enc:
                # ISO 32000-1 Table 20: top-level /Length is a V2/V3
                # field; V4 writers may declare it only in the crypt
                # filter (Table 25, in BYTES — but tolerate bits)
                cf = enc.get("CF")
                cfd = cf.get(str(enc.get("StmF", ""))) \
                    if isinstance(cf, dict) else None
                cflen = cfd.get("Length") if isinstance(cfd, dict) else None
                if isinstance(cflen, int) and cflen > 0:
                    # BYTES per Table 25, but tolerate bits: a legal
                    # V4 key is at most 16 bytes (128-bit), so any
                    # value above 16 can only be a bit count
                    self.length = cflen * 8 if cflen <= 16 else cflen
        elif self.v == 5:
            self.stm_cfm = self.str_cfm = "AESV3"
        else:
            raise CryptError(f"unsupported /V {self.v}")
        if self.r in (2, 3, 4):
            self.key = self._derive_r234(password)
        elif self.r in (5, 6):
            self.key = self._derive_r56(password)
        else:
            raise CryptError(f"unsupported /R {self.r}")

    @staticmethod
    def _cfm(enc: dict, name) -> str:
        name = str(name)
        if name == "Identity":
            return "Identity"
        cf = enc.get("CF")
        cfd = cf.get(name) if isinstance(cf, dict) else None
        cfm = str(cfd.get("CFM", "None")) if isinstance(cfd, dict) else "None"
        if cfm not in ("V2", "AESV2", "AESV3"):
            raise CryptError(f"unsupported crypt filter method {cfm}")
        return cfm

    # Algorithm 2 + Algorithm 4/5 validation (R2-R4).
    def _derive_r234(self, password: bytes) -> bytes:
        key = self._alg2(password)
        if self._check_user_r234(key):
            return key
        # try as owner password: Algorithm 7 recovers the user password
        okey = self._owner_rc4_key(password)
        if self.r == 2:
            userpw = rc4(okey, self.o)
        else:
            userpw = _rc4_chain(okey, self.o, range(19, -1, -1))
        key = self._alg2(userpw)
        if self._check_user_r234(key):
            return key
        raise CryptError("password required")

    def _alg2(self, password: bytes) -> bytes:
        pw = (password + _PAD)[:32]
        h = hashlib.md5(pw + self.o[:32] + struct.pack("<i", self.p)
                        + self.id0)
        if self.r >= 4 and not self.encrypt_metadata:
            h.update(b"\xff\xff\xff\xff")
        key = h.digest()
        n = 5 if self.r == 2 else max(5, min(16, self.length // 8))
        if self.r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:n]).digest()
        return key[:n]

    def _owner_rc4_key(self, owner_pw: bytes) -> bytes:
        n = 5 if self.r == 2 else max(5, min(16, self.length // 8))
        return _owner_key(owner_pw, self.r, n)

    def _check_user_r234(self, key: bytes) -> bool:
        if self.r == 2:
            return rc4(key, _PAD) == self.u[:32]
        u = _rc4_chain(key, rc4(key, hashlib.md5(_PAD + self.id0).digest()),
                       range(1, 20))
        return u == self.u[:16]

    # Algorithm 2.A/2.B (R5 deprecated Adobe, R6 ISO 32000-2).
    def _hash_r56(self, password: bytes, salt: bytes,
                  udata: bytes = b"") -> bytes:
        return _hash_2b(self.r, password, salt, udata)

    def _derive_r56(self, password: bytes) -> bytes:
        pw = password[:127]
        if len(self.u) >= 48:
            vsalt, ksalt = self.u[32:40], self.u[40:48]
            if self._hash_r56(pw, vsalt) == self.u[:32]:
                ik = self._hash_r56(pw, ksalt)
                key = aes_cbc_decrypt(ik, b"\x00" * 16, self.ue[:32],
                                      unpad=False)
                if len(key) == 32:
                    return key
        if len(self.o) >= 48:
            vsalt, ksalt = self.o[32:40], self.o[40:48]
            if self._hash_r56(pw, vsalt, self.u[:48]) == self.o[:32]:
                ik = self._hash_r56(pw, ksalt, self.u[:48])
                key = aes_cbc_decrypt(ik, b"\x00" * 16, self.oe[:32],
                                      unpad=False)
                if len(key) == 32:
                    return key
        raise CryptError("password required")

    # -- per-object application
    def _obj_key(self, num: int, gen: int, aes: bool) -> bytes:
        if self.v == 5:
            return self.key
        h = hashlib.md5(self.key
                        + struct.pack("<I", num & 0xFFFFFF)[:3]
                        + struct.pack("<I", gen & 0xFFFF)[:2]
                        + (b"sAlT" if aes else b"")).digest()
        return h[:min(len(self.key) + 5, 16)]

    def _apply_decrypt(self, cfm: str, data: bytes, num: int,
                       gen: int) -> bytes:
        if cfm == "Identity" or not data:
            return data
        if cfm == "V2":
            return rc4(self._obj_key(num, gen, False), data)
        key = self.key if cfm == "AESV3" else self._obj_key(num, gen, True)
        if len(data) <= 16:
            return b""
        return aes_cbc_decrypt(key, data[:16], data[16:])

    def decrypt_string(self, data: bytes, num: int, gen: int) -> bytes:
        return self._apply_decrypt(self.str_cfm, data, num, gen)

    def decrypt_stream(self, data: bytes, num: int, gen: int) -> bytes:
        return self._apply_decrypt(self.stm_cfm, data, num, gen)

    def _apply_encrypt(self, cfm: str, data: bytes, num: int,
                       gen: int) -> bytes:
        if cfm == "Identity":
            return data
        if cfm == "V2":
            return rc4(self._obj_key(num, gen, False), data)
        key = self.key if cfm == "AESV3" else self._obj_key(num, gen, True)
        iv = hashlib.md5(b"pdfiv" + self.id0
                         + struct.pack("<II", num, gen)).digest()
        return iv + aes_cbc_encrypt(key, iv, data)

    def encrypt_string(self, data: bytes, num: int, gen: int) -> bytes:
        return self._apply_encrypt(self.str_cfm, data, num, gen)

    def encrypt_stream(self, data: bytes, num: int, gen: int) -> bytes:
        return self._apply_encrypt(self.stm_cfm, data, num, gen)


# ----------------------------------------------------- fixture encryptor

# mode -> (V, R, Length-bits, CFM or None for RC4-direct)
MODES = {
    "rc4-40": (1, 2, 40, None),
    "rc4-128": (2, 3, 128, None),
    "aes-128": (4, 4, 128, "AESV2"),
    "aes-256": (5, 6, 256, "AESV3"),
}

_P_PERMS = -3904  # print/copy allowed; modify/annotate denied


def _gen_o_r234(r: int, n: int, user_pw: bytes, owner_pw: bytes) -> bytes:
    """Algorithm 3: the /O entry."""
    okey = _owner_key(owner_pw, r, n)
    o = rc4(okey, (user_pw + _PAD)[:32])
    if r >= 3:
        o = _rc4_chain(okey, o, range(1, 20))
    return o


def _ser_name(name: str) -> bytes:
    out = bytearray(b"/")
    for b in name.encode("latin-1", "replace"):
        if b in b"()<>[]{}/%# \t\r\n\f\x00" or b < 0x21 or b > 0x7E:
            out += b"#%02X" % b
        else:
            out.append(b)
    return bytes(out)


def _ser_num(v) -> bytes:
    if isinstance(v, bool):
        return b"true" if v else b"false"
    if isinstance(v, int):
        return str(v).encode()
    s = f"{v:.6f}".rstrip("0").rstrip(".")
    return (s or "0").encode()


def _ser_obj(obj, pt) -> bytes:
    """Serialize a parsed PDF object back to bytes (strings as hex)."""
    if obj is None:
        return b"null"
    if isinstance(obj, pt._Ref):
        return f"{obj.num} {obj.gen} R".encode()
    if isinstance(obj, bool) or isinstance(obj, (int, float)):
        return _ser_num(obj)
    if isinstance(obj, bytes):
        return b"<" + obj.hex().encode() + b">"
    if isinstance(obj, str):  # _Name (and any str is a name here)
        return _ser_name(obj)
    if isinstance(obj, list):
        return b"[" + b" ".join(_ser_obj(o, pt) for o in obj) + b"]"
    if isinstance(obj, dict):
        parts = []
        for k, v in obj.items():
            parts.append(_ser_name(str(k)) + b" " + _ser_obj(v, pt))
        return b"<<" + b" ".join(parts) + b">>"
    raise CryptError(f"unserializable object {type(obj).__name__}")


def _walk_encrypt_strings(obj, handler, num):
    if isinstance(obj, bytes):
        return handler.encrypt_string(obj, num, 0)
    if isinstance(obj, list):
        return [_walk_encrypt_strings(o, handler, num) for o in obj]
    if isinstance(obj, dict):
        return {k: _walk_encrypt_strings(v, handler, num)
                for k, v in obj.items()}
    return obj


def encrypt_pdf(data: bytes, mode: str = "rc4-128",
                user_pw: bytes = b"", owner_pw: bytes = b"owner",
                exempt_streams: bool = False) -> bytes:
    """Re-serialize a PDF with standard-handler encryption applied.

    Fully deterministic: /ID, the R6 file key, and every AES IV derive
    from ``data``. The output is a classic-xref PDF; object-stream
    members of modern inputs are lifted to top-level objects (their
    container ObjStm/XRef streams are dropped — the rewritten file
    carries the same logical objects).

    ``exempt_streams``: leave every stream PLAINTEXT and mark it with
    a /Crypt /Identity filter entry (spec 7.4.10 exemption — the shape
    writers use for unencrypted metadata); strings stay encrypted.
    """
    if mode not in MODES:
        raise CryptError(f"unknown mode {mode!r}")
    v, r, bits, cfm = MODES[mode]
    from . import pdf_text as pt

    doc = pt._Document(data)
    if doc.trailer.get("Encrypt") is not None:
        raise CryptError("input already encrypted")
    id0 = hashlib.md5(b"pdfid" + data).digest()

    enc: dict = {"Filter": "Standard", "V": v, "R": r, "P": _P_PERMS,
                 "Length": bits}
    if r <= 4:
        n = bits // 8
        o = _gen_o_r234(r, n, user_pw, owner_pw)
        enc["O"] = o
        # derive the file key (Algorithm 2) to compute /U
        tmp = dict(enc)
        tmp["U"] = b"\x00" * 32
        probe = StandardSecurityHandler.__new__(StandardSecurityHandler)
        probe.r, probe.o, probe.p, probe.id0 = r, o, _P_PERMS, id0
        probe.length, probe.encrypt_metadata = bits, True
        key = probe._alg2(user_pw)
        if r == 2:
            u = rc4(key, _PAD)
        else:
            u = _rc4_chain(key, rc4(key, hashlib.md5(_PAD + id0).digest()),
                           range(1, 20))
            u += hashlib.md5(b"upad" + id0).digest()
        enc["U"] = u
        if v == 4:
            enc["CF"] = {"StdCF": {"CFM": pt._Name(cfm), "Length": bits // 8,
                                   "AuthEvent": pt._Name("DocOpen")}}
            enc["StmF"] = pt._Name("StdCF")
            enc["StrF"] = pt._Name("StdCF")
    else:
        # R6: deterministic 32-byte file key per document, FIXED salts
        # (so _hash_2b's cache amortizes the Algorithm 2.B cost across
        # bulk fixture generation; the per-doc secret is the key, which
        # is wrapped in /UE — decryption stays fully general)
        key = hashlib.sha256(b"pdfkey" + data).digest()
        vsu, ksu = (hashlib.md5(b"vsu").digest()[:8],
                    hashlib.md5(b"ksu").digest()[:8])
        vso, kso = (hashlib.md5(b"vso").digest()[:8],
                    hashlib.md5(b"kso").digest()[:8])
        probe = StandardSecurityHandler.__new__(StandardSecurityHandler)
        probe.r = r
        pw = user_pw[:127]
        u = probe._hash_r56(pw, vsu) + vsu + ksu
        ue = aes_cbc_encrypt(probe._hash_r56(pw, ksu), b"\x00" * 16, key,
                             pad=False)
        opw = owner_pw[:127]
        o = probe._hash_r56(opw, vso, u[:48]) + vso + kso
        oe = aes_cbc_encrypt(probe._hash_r56(opw, kso, u[:48]),
                             b"\x00" * 16, key, pad=False)
        perms = bytearray(struct.pack("<i", _P_PERMS))
        perms += b"\xff\xff\xff\xffTadb"
        perms += hashlib.md5(b"perms" + id0).digest()[:4]
        rks = _expand_key(key)
        enc.update({"O": o, "U": u, "OE": oe, "UE": ue,
                    "Perms": _encrypt_block(rks, bytes(perms)),
                    "CF": {"StdCF": {"CFM": pt._Name("AESV3"),
                                     "Length": 32,
                                     "AuthEvent": pt._Name("DocOpen")}},
                    "StmF": pt._Name("StdCF"), "StrF": pt._Name("StdCF"),
                    "EncryptMetadata": True})

    handler = StandardSecurityHandler(enc, id0, password=user_pw)

    # collect every logical object (objstm members come back top-level)
    bodies: dict[int, bytes] = {}
    for num in sorted(doc.offsets):
        try:
            obj = doc.get(num)
        except pt.PdfError:
            continue
        if obj is None:
            continue
        if isinstance(obj, pt._Stream):
            typ = doc.resolve(obj.dict.get("Type"))
            if typ in ("ObjStm", "XRef"):
                continue
            d = dict(obj.dict)
            if exempt_streams:
                raw = obj.raw
                filters = doc.filter_list(obj)
                parms = doc.resolve(d.get("DecodeParms"))
                if not isinstance(parms, list):
                    parms = [parms] * len(filters)
                d["Filter"] = [pt._Name("Crypt")] + \
                    [pt._Name(str(f)) for f in filters]
                d["DecodeParms"] = [
                    {"Type": pt._Name("CryptFilterDecodeParms"),
                     "Name": pt._Name("Identity")}] + parms
            else:
                raw = handler.encrypt_stream(obj.raw, num, 0)
            d["Length"] = len(raw)
            d = _walk_encrypt_strings(d, handler, num)
            body = (_ser_obj(d, pt) + b"\nstream\n" + raw
                    + b"\nendstream")
        else:
            body = _ser_obj(_walk_encrypt_strings(obj, handler, num), pt)
        bodies[num] = body

    enc_num = max(bodies) + 1 if bodies else 1
    bodies[enc_num] = _ser_obj(enc, pt)

    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + bodies[num] + b"\nendobj\n"
    size = max(bodies) + 1
    xref_at = len(out)
    out += f"xref\n0 {size}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        if num in offsets:
            out += f"{offsets[num]:010d} 00000 n \n".encode()
        else:
            out += b"0000000000 65535 f \n"
    trailer = {"Size": size, "Root": doc.trailer.get("Root"),
               "Encrypt": pt._Ref(enc_num, 0), "ID": [id0, id0]}
    if doc.trailer.get("Info") is not None:
        trailer["Info"] = doc.trailer.get("Info")
    out += b"trailer\n" + _ser_obj(trailer, pt) + b"\n"
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)
