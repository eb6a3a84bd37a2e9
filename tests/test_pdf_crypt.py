"""PDF standard-security-handler tests: cipher known-answer vectors,
encrypt→extract byte-identity round-trips across every mode and
serialization variant, password authentication (user, owner/Algorithm 7,
R6 /OE branch), and fail-closed behavior on locked or corrupt input.

Reference behavior delta (documented): the reference fails ALL
encrypted uploads into FileProcessingError
(/root/reference/app/services/resume_parser.py — pdf2image cannot open
them); this engine opens the "encrypted but openable" class (empty or
known password) with byte-identical text, and only truly locked files
take the error path.
"""

import hashlib

import pytest

from resume_parser_service_spark.kernels import pdf_crypt as pc
from resume_parser_service_spark.kernels.pdf_crypt import (
    MODES,
    CryptError,
    StandardSecurityHandler,
    aes_cbc_decrypt,
    aes_cbc_encrypt,
    encrypt_pdf,
    rc4,
)
from resume_parser_service_spark.kernels.pdf_gen import make_pdf
from resume_parser_service_spark.kernels.pdf_text import PdfError, extract_pdf

TEXTS = ["Alpha bravo charlie.\nDelta echo (parens) and \\ backslash.",
         "Second page: latin-1 café ümlaut."]


# ---------------------------------------------------------- primitives

def test_aes_fips197_vectors():
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = pc._encrypt_block(pc._expand_key(key), pt)
    assert ct == bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    assert pc._decrypt_block(pc._expand_key(key), ct) == pt
    key256 = bytes.fromhex("000102030405060708090a0b0c0d0e0f"
                           "101112131415161718191a1b1c1d1e1f")
    ct256 = pc._encrypt_block(pc._expand_key(key256), pt)
    assert ct256 == bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    assert pc._decrypt_block(pc._expand_key(key256), ct256) == pt


def test_rc4_classic_vectors():
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Secret", b"Attack at dawn").hex() == \
        "45a01f645fc35b383552544b9bf5"
    # symmetric
    assert rc4(b"Key", rc4(b"Key", b"round trip")) == b"round trip"


def test_cbc_roundtrip_and_padding():
    key, iv = b"0123456789abcdef", b"\x01" * 16
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(256))[:n]
        enc = aes_cbc_encrypt(key, iv, data)
        assert len(enc) % 16 == 0 and len(enc) >= n + 1
        assert aes_cbc_decrypt(key, iv, enc) == data
    # unaligned ciphertext: trailing slack dropped, no raise
    enc = aes_cbc_encrypt(key, iv, b"x" * 20)
    assert aes_cbc_decrypt(key, iv, enc + b"??") == b"x" * 20
    with pytest.raises(CryptError):
        aes_cbc_encrypt(key, iv, b"x" * 20, pad=False)


@pytest.mark.parametrize("fast", [False, True])
def test_aes_24_byte_key_rejected_on_both_paths(monkeypatch, fast):
    """The library AES would take a 24-byte key, the pure-Python path
    does not: the outcome must not depend on which one is installed."""
    monkeypatch.setattr(pc, "_HAVE_FAST_CRYPTO", fast)
    key, iv = bytes(range(24)), b"\x01" * 16
    with pytest.raises(CryptError, match="bad AES key length 24"):
        aes_cbc_encrypt(key, iv, b"x" * 20)
    with pytest.raises(CryptError, match="bad AES key length 24"):
        aes_cbc_decrypt(key, iv, b"y" * 32)


# ---------------------------------------------------------- round-trips

@pytest.mark.parametrize("mode", sorted(MODES))
def test_encrypt_extract_identity(mode):
    plain = make_pdf(TEXTS, links=["https://example.com/a?b=1"])
    want = extract_pdf(plain)
    enc = encrypt_pdf(plain, mode)
    assert enc != plain and b"/Encrypt" in enc
    got = extract_pdf(enc)
    assert got["text"] == want["text"]
    assert got["links"] == want["links"]
    assert got["n_pages"] == want["n_pages"]


@pytest.mark.parametrize("variant", ["xref_stream", "objstm", "plainstream"])
def test_encrypt_serialization_variants(variant):
    kw = {"xref_stream": True} if variant == "xref_stream" else \
         {"xref_stream": True, "objstm": True} if variant == "objstm" else \
         {"compress": False}
    plain = make_pdf(TEXTS, **kw)
    want = extract_pdf(plain)["text"]
    for mode in MODES:
        assert extract_pdf(encrypt_pdf(plain, mode))["text"] == want


def test_encrypt_deterministic():
    plain = make_pdf(TEXTS)
    for mode in MODES:
        assert encrypt_pdf(plain, mode) == encrypt_pdf(plain, mode)


def test_double_encryption_rejected():
    enc = encrypt_pdf(make_pdf(["x"]), "rc4-128")
    with pytest.raises(CryptError):
        encrypt_pdf(enc, "aes-128")


# ---------------------------------------------------------- passwords

@pytest.mark.parametrize("mode", sorted(MODES))
def test_password_paths(mode):
    plain = make_pdf(["Locked body text."])
    want = extract_pdf(plain)["text"]
    enc = encrypt_pdf(plain, mode, user_pw=b"hunter2", owner_pw=b"boss")
    with pytest.raises(PdfError):
        extract_pdf(enc)  # empty password must NOT open it
    assert extract_pdf(enc, password=b"hunter2")["text"] == want
    # owner password: Algorithm 7 user-pw recovery (R2-4) / OE (R6)
    assert extract_pdf(enc, password=b"boss")["text"] == want
    with pytest.raises(PdfError):
        extract_pdf(enc, password=b"wrong")


def test_r5_handler_unit():
    """R5 (deprecated Adobe AES-256: plain SHA-256, no 2.B loop) —
    handler-level, since the fixture encryptor only emits R6."""
    key = hashlib.sha256(b"filekey").digest()
    vsalt, ksalt = b"v" * 8, b"k" * 8
    u = hashlib.sha256(b"" + vsalt).digest() + vsalt + ksalt
    ue = aes_cbc_encrypt(hashlib.sha256(b"" + ksalt).digest(),
                         b"\x00" * 16, key, pad=False)
    enc = {"Filter": "Standard", "V": 5, "R": 5, "Length": 256,
           "O": b"\x00" * 48, "U": u, "OE": b"", "UE": ue, "P": -3904}
    h = StandardSecurityHandler(enc, b"")
    assert h.key == key
    blob = h.encrypt_stream(b"r5 payload", 7, 0)
    assert h.decrypt_stream(blob, 7, 0) == b"r5 payload"


def test_unsupported_handler_fails_closed():
    plain = make_pdf(["x"])
    enc = encrypt_pdf(plain, "rc4-128")
    # swap the Filter name to a non-standard handler
    broken = enc.replace(b"/Filter /Standard", b"/Filter /MySecRity1")
    with pytest.raises(PdfError):
        extract_pdf(broken)


def test_truncated_encrypted_no_crash():
    """Truncations either fail closed (PdfError) or salvage cleanly —
    never hang, never raise an unexpected exception type."""
    enc = encrypt_pdf(make_pdf(TEXTS), "aes-128")
    for cut in range(0, len(enc), 97):
        try:
            out = extract_pdf(enc[:cut])
        except (PdfError, ValueError):
            continue
        assert isinstance(out["text"], str)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _latin1 = st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0xFF,
                               exclude_characters="\x7f\xad"),
        min_size=0, max_size=200)

    @settings(max_examples=25, deadline=None)
    @given(text=_latin1, mode=st.sampled_from(sorted(MODES)))
    def test_property_encrypt_roundtrip(text, mode):
        plain = make_pdf([text])
        want = extract_pdf(plain)["text"]
        assert extract_pdf(encrypt_pdf(plain, mode))["text"] == want
except ImportError:  # pragma: no cover
    pass


def test_hash_2b_spec_loop():
    # Algorithm 2.B must run >= 64 rounds and terminate; key is 32 bytes
    out = pc._hash_2b(6, b"pw", b"saltsalt", b"")
    assert len(out) == 32
    # R5 short-circuit
    assert pc._hash_2b(5, b"pw", b"saltsalt") == \
        hashlib.sha256(b"pw" + b"saltsalt").digest()


def test_malformed_encrypt_dict_raises_pdferror():
    """Garbage /Encrypt values must land in the PdfError audit path,
    never leak ValueError/TypeError/struct.error (review finding)."""
    plain = make_pdf(["x"])
    enc = encrypt_pdf(plain, "aes-128")
    for bad, good in ((b"/V 4", b"/V /AESV2"),        # name where int due
                      (b"/Length 128", b"/Length /High"),
                      (b"/P -3904", b"/P 9999999999")):  # junk-width P
        broken = enc.replace(bad, good)
        assert broken != enc
        with pytest.raises(PdfError):
            extract_pdf(broken)


def test_v4_length_only_in_crypt_filter():
    """ISO 32000-1 Table 20 marks top-level /Length as V2/V3-only; a
    conformant AESV2 writer may declare key length solely via
    /CF/StdCF/Length (bytes). Such files must still open."""
    plain = make_pdf(TEXTS)
    enc = encrypt_pdf(plain, "aes-128")
    # anchor the strip inside the /Encrypt dict: an earlier content
    # stream could legitimately carry "/Length 128" too
    i = enc.find(b"/Filter /Standard")
    assert i > 0
    stripped = enc[:i] + enc[i:].replace(b"/Length 128 ", b"", 1)
    assert stripped != enc and b"/Length 16" in stripped  # CF Length stays
    assert extract_pdf(stripped)["text"] == extract_pdf(plain)["text"]
    # bits-declared CF Length (spec-ambiguous writers): 128 > 16 bytes
    bits = enc[:i] + enc[i:].replace(b"/Length 128 ", b"", 1) \
        .replace(b"/CFM /AESV2 /Length 16", b"/CFM /AESV2 /Length 128", 1)
    assert extract_pdf(bits)["text"] == extract_pdf(plain)["text"]


def test_unsigned_p_still_authenticates():
    """/P stored as unsigned 32-bit (2**32 + P) must derive the same
    key — common in rewritten crawl PDFs."""
    plain = make_pdf(["unsigned P"])
    enc = encrypt_pdf(plain, "rc4-128")
    unsigned = enc.replace(b"/P -3904", b"/P 4294963392")  # 2**32 - 3904
    assert unsigned != enc
    assert extract_pdf(unsigned)["text"] == extract_pdf(plain)["text"]


def test_crypt_identity_exempt_streams():
    """Spec 7.4.10: a /Crypt /Identity filter entry exempts a stream
    from decryption. The encryptor's exempt_streams mode emits that
    shape (plaintext streams, encrypted strings); extraction must not
    double-decrypt the exempt streams nor drop them as an unsupported
    filter."""
    plain = make_pdf(TEXTS, links=["https://e.example/x"])
    want = extract_pdf(plain)
    for mode in sorted(MODES):
        enc = encrypt_pdf(plain, mode, exempt_streams=True)
        assert b"/Crypt" in enc
        got = extract_pdf(enc)
        assert got["text"] == want["text"]
        assert got["links"] == want["links"]
