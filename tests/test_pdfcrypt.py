"""S5/S6: standard-security-handler decrypt + permissions probe
(sources/pdfcrypt) vs the reference's itext probe/decrypt fallback
(PDFExtract.java:574-625, PDFToHtml.java:74-109)."""

import hashlib
import struct

import pytest

from pdf_extract_spark.sources.pdfcrypt import (
    PAD,
    StandardSecurityHandler,
    compute_u,
    file_key,
    permissions_dict,
    rc4,
)
from pdf_extract_spark.sources.pdfparse import PDFDocument

DOC_ID = bytes.fromhex("0123456789abcdef0123456789abcdef")

# reserved bits per PDF 32000-1 Table 22: 7-8 and 13-32 set, 1-2 clear
_RESERVED = 0xFFFFF0C0


def _perm(*bits: int) -> int:
    p = _RESERVED
    for b in bits:
        p |= 1 << (b - 1)
    return p - (1 << 32)  # signed int32, as written by real producers


def test_rc4_known_vector():
    # classic RC4 test vector
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Key", rc4(b"Key", b"secret")) == b"secret"  # symmetric


def test_permissions_bit_decode():
    p = permissions_dict(_perm(3, 5, 10, 12))
    assert p["is_encrypted"]
    assert p["can_print"] and p["can_print_degraded"]
    assert p["can_copy"] and p["can_screen_reader"]
    assert not (p["can_modified"] or p["can_modify_annotations"]
                or p["can_fill_in_form"] or p["can_assembly"])
    # bit 3 without bit 12 → degraded printing only (itext semantics)
    q = permissions_dict(_perm(3))
    assert q["can_print_degraded"] and not q["can_print"]


def compute_o(owner_password: bytes, user_password: bytes, r: int,
              length: int) -> bytes:
    """Algorithm 3: the /O entry of an encrypted PDF (the writer side
    itext plays in the reference's decrypt-rewrite, PDFToHtml.java:96)."""
    n = max(5, min(16, length // 8)) if r >= 3 else 5
    h = hashlib.md5((owner_password or user_password) + PAD).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    key = h[:n]
    out = rc4(key, (user_password + PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            out = rc4(bytes(b ^ i for b in key), out)
    return out


def encrypt(handler: StandardSecurityHandler, raw: bytes, num: int,
            gen: int) -> bytes:
    """Encrypt object ``num gen``'s bytes under ``handler``'s key, the
    inverse of ``handler.decrypt``. For AES the IV is derived
    deterministically from (num, gen) so the builders stay
    reproducible."""
    key = handler.object_key(num, gen)
    if handler.aes:
        from pdf_extract_spark.sources.aes import cbc_encrypt

        iv = hashlib.md5(b"iv" + struct.pack("<II", num, gen)).digest()
        return iv + cbc_encrypt(key, iv, raw)
    return rc4(key, raw)


LINES = ["Encrypted document first line", "and its second line."]


def _plain_pdf_objects() -> list[bytes]:
    parts = ["BT", "/F1 12 Tf", "72 700 Td", f"({LINES[0]}) Tj",
             "0 -14 Td", f"({LINES[1]}) Tj", "ET"]
    stream = "\n".join(parts).encode("latin-1")
    return [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >>"
        b" /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        stream,  # caller wraps (and encrypts) the stream body
        b"<< /Type /Font /Subtype /Type1 /Name /F1 /BaseFont /Helvetica >>",
    ]


def _assemble(objs: list[bytes], trailer_extra: str) -> bytes:
    buf = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R "
            f"{trailer_extra} >>\nstartxref\n{xref}\n%%EOF\n").encode()
    return bytes(buf)


def make_encrypted_pdf(v: int, r: int, length: int, p: int,
                       cfm: str = "V2") -> bytes:
    """Build an RC4/AES-encrypted PDF from scratch — the writer role
    itext plays in the reference's decrypt-rewrite (PDFToHtml.java:96).
    ``v=4`` writes crypt filters (/CFM /V2 or /AESV2)."""
    o = compute_o(b"owner-secret", b"", r, length)
    key = file_key(b"", o, p, DOC_ID, r, length)
    u = compute_u(key, DOC_ID, r)

    enc_dict = {"Filter": "Standard", "V": v, "R": r, "Length": length,
                "O": o, "U": u, "P": p}
    cf_pdf = ""
    if v == 4:
        enc_dict["CF"] = {"StdCF": {"CFM": cfm, "Length": length // 8}}
        enc_dict["StmF"] = "StdCF"
        enc_dict["StrF"] = "StdCF"
        cf_pdf = (f"/CF << /StdCF << /CFM /{cfm} /Length {length // 8} "
                  f"/AuthEvent /DocOpen >> >> /StmF /StdCF /StrF /StdCF ")

    objs = _plain_pdf_objects()
    enc = StandardSecurityHandler(enc_dict, DOC_ID)
    stream = encrypt(enc, objs[3], 4, 0)  # content stream is object 4
    objs[3] = (b"<< /Length " + str(len(stream)).encode()
               + b" >>\nstream\n" + stream + b"\nendstream")
    objs.append(
        (f"<< /Filter /Standard /V {v} /R {r} /Length {length} /P {p} "
         f"{cf_pdf}/O <{o.hex()}> /U <{u.hex()}> >>").encode()
    )
    trailer = (f"/Encrypt {len(objs)} 0 R "
               f"/ID [<{DOC_ID.hex()}> <{DOC_ID.hex()}>]")
    return _assemble(objs, trailer)


def make_encrypted_pdf_v5(r: int, p: int) -> bytes:
    """AES-256 (/AESV3) fixture: V=5, R=5 (legacy SHA-256) or R=6
    (PDF 2.0 Algorithm 2.B hash); empty user password."""
    from pdf_extract_spark.sources.aes import cbc_encrypt
    from pdf_extract_spark.sources.pdfcrypt import hash_r6

    file_k = bytes(range(32))  # deterministic fixture key
    vsalt, ksalt = b"valsalt!", b"keysalt!"
    if r == 6:
        uhash = hash_r6(b"", vsalt, b"")
        ikey = hash_r6(b"", ksalt, b"")
    else:
        uhash = hashlib.sha256(vsalt).digest()
        ikey = hashlib.sha256(ksalt).digest()
    u = uhash + vsalt + ksalt
    ue = cbc_encrypt(ikey, b"\x00" * 16, file_k, pad=False)
    o, oe = b"\x01" * 48, b"\x02" * 32  # owner entries unused (empty user pw)

    objs = _plain_pdf_objects()
    enc = StandardSecurityHandler(
        {"Filter": "Standard", "V": 5, "R": r, "Length": 256,
         "O": o, "U": u, "UE": ue, "OE": oe, "P": p},
        DOC_ID,
    )
    assert enc.key == file_k  # round-trip through /UE
    stream = encrypt(enc, objs[3], 4, 0)
    objs[3] = (b"<< /Length " + str(len(stream)).encode()
               + b" >>\nstream\n" + stream + b"\nendstream")
    objs.append(
        (f"<< /Filter /Standard /V 5 /R {r} /Length 256 /P {p} "
         f"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
         f"/StmF /StdCF /StrF /StdCF "
         f"/O <{o.hex()}> /U <{u.hex()}> "
         f"/OE <{oe.hex()}> /UE <{ue.hex()}> >>").encode()
    )
    trailer = (f"/Encrypt {len(objs)} 0 R "
               f"/ID [<{DOC_ID.hex()}> <{DOC_ID.hex()}>]")
    return _assemble(objs, trailer)


@pytest.mark.parametrize("v,r,length", [(1, 2, 40), (2, 3, 128)])
def test_decrypt_rc4(v, r, length):
    pdf = make_encrypted_pdf(v, r, length, _perm(3, 5, 12))
    doc = PDFDocument(pdf)
    assert doc.crypt is not None and doc.crypt_error is None
    assert doc.crypt.check_user_password()
    assert doc.permissions["can_print"] and doc.permissions["can_copy"]
    pages = doc.pages()
    assert len(pages) == 1
    assert LINES[0].encode() in pages[0].content
    assert LINES[1].encode() in pages[0].content


def test_extract_pdf_decrypts_transparently():
    from pdf_extract_spark.operators.extract import extract_pdf

    res = extract_pdf(make_encrypted_pdf(2, 3, 128, _perm(3, 4, 5, 6, 9, 10, 11, 12)))
    assert res.error is None
    assert [t for k, t, _, _ in res.spans if k == "text"] == [
        "Encrypted document first line and its second line."
    ]
    assert res.permission["is_encrypted"]
    assert res.permission["can_modified"] and res.permission["can_assembly"]


JOINED = "Encrypted document first line and its second line."


@pytest.mark.parametrize("cfm", ["V2", "AESV2"])
def test_decrypt_v4_crypt_filters(cfm):
    """V=4 crypt filters: /V2 (RC4-128) and /AESV2 (AES-128-CBC, the
    post-2005 default the reference reaches via itext)."""
    pdf = make_encrypted_pdf(4, 4, 128, _perm(3, 5, 12), cfm=cfm)
    doc = PDFDocument(pdf)
    assert doc.crypt is not None and doc.crypt_error is None
    assert doc.crypt.aes == (cfm == "AESV2")
    pages = doc.pages()
    assert LINES[0].encode() in pages[0].content

    from pdf_extract_spark.operators.extract import extract_pdf

    res = extract_pdf(pdf)
    assert res.error is None
    assert [t for k, t, _, _ in res.spans if k == "text"] == [JOINED]


@pytest.mark.parametrize("r", [5, 6])
def test_decrypt_v5_aes256(r):
    """V=5 /AESV3 (AES-256): R5 legacy and R6 (PDF 2.0 hash)."""
    from pdf_extract_spark.operators.extract import extract_pdf

    pdf = make_encrypted_pdf_v5(r, _perm(3, 5, 12))
    doc = PDFDocument(pdf)
    assert doc.crypt is not None and doc.crypt_error is None
    res = extract_pdf(pdf)
    assert res.error is None
    assert [t for k, t, _, _ in res.spans if k == "text"] == [JOINED]
    assert res.permission["can_copy"]


def test_unsupported_handler_yields_error_row_with_permissions():
    """Non-Standard security handler → structured error, permissions
    still probed — the reference's error-sink path (S8) with the S6
    probe intact."""
    from pdf_extract_spark.operators.extract import extract_pdf

    pdf = make_encrypted_pdf(2, 3, 128, _perm(3))
    pdf = pdf.replace(b"/Filter /Standard /V 2 /R 3",
                      b"/Filter /FooSec /V 2 /R 3")
    res = extract_pdf(pdf)
    assert res.error is not None and "encrypted" in res.error
    assert res.spans == []
    assert res.permission is not None
    assert res.permission["can_print_degraded"] and not res.permission["can_copy"]


def test_aes_fips_vectors():
    from pdf_extract_spark.sources.aes import AES

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    assert AES(bytes(range(16))).encrypt_block(pt).hex() == \
        "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert AES(bytes(range(24))).encrypt_block(pt).hex() == \
        "dda97ca4864cdfe06eaf70a0ec0d7191"
    assert AES(bytes(range(32))).encrypt_block(pt).hex() == \
        "8ea2b7ca516745bfeafc49904b496089"
    for klen in (16, 24, 32):
        k = bytes(range(klen))
        assert AES(k).decrypt_block(AES(k).encrypt_block(pt)) == pt


def test_hash_r6_properties():
    """Algorithm 2.B: deterministic, salt-sensitive, 32 bytes."""
    from pdf_extract_spark.sources.pdfcrypt import hash_r6

    a = hash_r6(b"", b"salt0000")
    assert len(a) == 32
    assert hash_r6(b"", b"salt0000") == a
    assert hash_r6(b"", b"salt0001") != a
    assert hash_r6(b"pw", b"salt0000") != a


def test_wrong_user_password_unsupported():
    """A non-empty user password can't be guessed → structured error."""
    o = compute_o(b"owner-secret", b"userpw", 3, 128)
    key = file_key(b"userpw", o, -44, DOC_ID, 3, 128)
    u = compute_u(key, DOC_ID, 3)
    with pytest.raises(Exception, match="password"):
        StandardSecurityHandler(
            {"Filter": "Standard", "V": 2, "R": 3, "Length": 128,
             "O": o, "U": u, "P": -44},
            DOC_ID,
        )


def test_pipeline_permission_column(spark):
    import base64

    from pdf_extract_spark.plans.pipeline import extract_spans

    pdf64 = base64.b64encode(make_encrypted_pdf(2, 3, 128, _perm(3, 5, 12))).decode()
    df = spark.createDataFrame(
        [("enc0", [{"kind": "pdf", "text": pdf64, "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    row = extract_spans(df).collect()[0]
    assert row["error"] is None
    assert row["permission"]["is_encrypted"]
    assert row["permission"]["can_copy"]
    assert [s["text"] for s in row["spans"]] == [
        "Encrypted document first line and its second line."
    ]


def test_html_permission_block():
    """O2 <permission> block parity (PDFExtract.java:1352-1364)."""
    from pdf_extract_spark.functions.htmlout import render_document

    html = render_document([], permission=permissions_dict(_perm(3, 5, 12)))
    assert '<permission isencrypted="true">' in html
    assert "<cancopy>true</cancopy>" in html
    assert "<canprint>true</canprint>" in html
    assert "<canmodified>false</canmodified>" in html
    assert "</permission>" in html
    assert "<permission" not in render_document([])
