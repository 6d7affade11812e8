"""PDF standard security handler: RC4 decrypt (S5) + permission probe (S6).

The reference handles encrypted PDFs in two steps: a permissions probe
via itext (``getAccessPermissions``/``setAccessPermissions``,
PDFExtract.java:574-625 — 9 booleans in HTMLObject.AccessPermission,
HTMLObject.java:87-98) and a decrypt-and-retry fallback when poppler
reports a permission error (``PDFToHtml.decrypt``, PDFToHtml.java:74-109,
which rewrites the file with all permissions via itext). Both fork or
call native/JVM libraries.

Here both are pure-stdlib and in-process (``hashlib`` + a 20-line RC4 +
``sources/aes.py``), applied lazily inside the Arrow-batched extraction
UDF: documents encrypted with the Standard security handler decrypt
transparently during stream decode for V1/V2 (RC4 40–128), V4
(/V2 RC4-128 and /AESV2 AES-128-CBC — the post-2005 default), and V5
(/AESV3 AES-256, both R5 and the PDF 2.0 R6 hash). All assume the
"owner password only" case — empty user password, content extractable
by design — which covers the overwhelming majority of permission-locked
web PDFs. Non-Standard handlers, unknown crypt filters, or a required
user password surface a structured ``encrypted:`` error row plus the
decoded permission bits, the engine's error-sink path (SURVEY.md §2.1
S5/S8).

Permission-bit semantics mirror itext's ``PdfEncryptor.is*Allowed``
(PDF 32000-1 Table 22): bit positions 3,4,5,6,9,10,11,12 with
full-quality printing requiring bits 3+12.
"""

from __future__ import annotations

import hashlib
import struct

# PDF 32000-1 §7.6.3.3 Algorithm 2 padding string
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)

# itext PdfWriter permission masks (PdfEncryptor.is*Allowed semantics)
_BIT_PRINT = 1 << 2          # bit 3
_BIT_MODIFY = 1 << 3         # bit 4
_BIT_COPY = 1 << 4           # bit 5
_BIT_ANNOT = 1 << 5          # bit 6
_BIT_FILL = 1 << 8           # bit 9
_BIT_SCREENREADER = 1 << 9   # bit 10
_BIT_ASSEMBLE = 1 << 10      # bit 11
_BIT_PRINT_HQ = 1 << 11      # bit 12


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt)."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def permissions_dict(p: int, encrypted: bool = True) -> dict:
    """Decode /P into the reference's 9 AccessPermission booleans
    (HTMLObject.java:87-98; bit semantics of PdfEncryptor.is*Allowed)."""
    return {
        "is_encrypted": encrypted,
        "can_assembly": bool(p & _BIT_ASSEMBLE),
        "can_copy": bool(p & _BIT_COPY),
        # itext: full printing needs bits 3+12; bit 3 alone is degraded
        "can_print": (p & (_BIT_PRINT | _BIT_PRINT_HQ))
        == (_BIT_PRINT | _BIT_PRINT_HQ),
        "can_print_degraded": bool(p & _BIT_PRINT),
        "can_modified": bool(p & _BIT_MODIFY),
        "can_modify_annotations": bool(p & _BIT_ANNOT),
        "can_fill_in_form": bool(p & _BIT_FILL),
        "can_screen_reader": bool(p & _BIT_SCREENREADER),
    }


class UnsupportedEncryption(Exception):
    """Raised for handlers we cannot decrypt (unknown crypt filters,
    non-Standard security handlers, or a required user password)."""


class StandardSecurityHandler:
    """Standard security handler with an empty user password.

    Supported: V1/V2 (RC4 40–128), V4 with /CFM /V2 (RC4) or /AESV2
    (AES-128-CBC — the post-2005 default, R4), and V5 /AESV3
    (AES-256-CBC, R5 legacy + R6 PDF 2.0).

    ``decrypt(raw, num, gen)``: Algorithm 1 per-object key (file key +
    3-byte objnum + 2-byte gen [+ b"sAlT" for AES], MD5, first
    min(n+5, 16) bytes); V5 uses the file key directly. AES payloads are
    ``iv || cbc_ciphertext`` with PKCS#7 padding.
    """

    def __init__(self, encrypt: dict, doc_id: bytes, password: bytes = b""):
        filt = str(encrypt.get("Filter", ""))
        if filt != "Standard":
            raise UnsupportedEncryption(f"security handler /{filt}")
        self.v = int(encrypt.get("V", 0) or 0)
        self.r = int(encrypt.get("R", 2) or 2)
        self.p = _as_int32(encrypt.get("P", -1))
        self.o = _as_bytes(encrypt.get("O", b""))
        self.u = _as_bytes(encrypt.get("U", b""))
        self.length = int(encrypt.get("Length", 40) or 40)
        self.doc_id = doc_id
        self.aes = False
        if self.v in (1, 2):
            if len(self.o) < 32:
                raise UnsupportedEncryption("malformed /O entry")
            self.key = file_key(password, self.o, self.p, self.doc_id,
                                self.r, self.length)
            if not self.check_user_password():
                raise UnsupportedEncryption("user password required")
        elif self.v == 4:
            self._setup_v4(encrypt, password)
        elif self.v == 5:
            self._setup_v5(encrypt, password)
        else:
            raise UnsupportedEncryption(f"encryption V={self.v}")

    def _setup_v4(self, encrypt: dict, password: bytes) -> None:
        """V4 crypt filters (PDF 32000-1 §7.6.5): resolve /StmF → /CF,
        accept /V2 (RC4) and /AESV2 (AES-128); key derivation is the R4
        variant of Algorithm 2 (EncryptMetadata=false appends ffffffff)."""
        if len(self.o) < 32:
            raise UnsupportedEncryption("malformed /O entry")
        cf = encrypt.get("CF") or {}
        stmf = str(encrypt.get("StmF", "Identity"))
        strf = str(encrypt.get("StrF", "Identity"))
        name = stmf if stmf != "Identity" else strf
        self.identity_streams = stmf == "Identity"
        cfm = "V2"
        length = self.length
        if name != "Identity":
            filt = cf.get(name)
            if not isinstance(filt, dict):
                raise UnsupportedEncryption(f"crypt filter /{name} undefined")
            cfm = str(filt.get("CFM", "V2"))
            flen = filt.get("Length")
            if flen:
                flen = int(flen)
                length = flen * 8 if flen <= 40 else flen  # bytes or bits
        if cfm == "AESV2":
            self.aes = True
        elif cfm != "V2":
            raise UnsupportedEncryption(f"crypt filter method /{cfm}")
        self.length = length
        em = encrypt.get("EncryptMetadata")
        self.encrypt_metadata = True if em is None else bool(em) and str(em) != "false"
        self.key = file_key(password, self.o, self.p, self.doc_id,
                            self.r, self.length,
                            encrypt_metadata=self.encrypt_metadata)
        if not self.check_user_password():
            raise UnsupportedEncryption("user password required")

    def _setup_v5(self, encrypt: dict, password: bytes) -> None:
        """V5 /AESV3 (AES-256): R5 (SHA-256) and R6 (Algorithm 2.B hash).
        /U = hash(32) || validation_salt(8) || key_salt(8); the file key
        is AES-256-CBC-decrypted from /UE with the key-salt hash."""
        from .aes import cbc_decrypt

        ue = _as_bytes(encrypt.get("UE", b""))
        if len(self.u) < 48 or len(ue) < 32:
            raise UnsupportedEncryption("malformed /U or /UE entry")
        if self.r not in (5, 6):
            raise UnsupportedEncryption(f"V=5 with R={self.r}")
        pwd = password[:127]
        vsalt, ksalt = self.u[32:40], self.u[40:48]
        expect = (
            hash_r6(pwd, vsalt, b"") if self.r == 6
            else hashlib.sha256(pwd + vsalt).digest()
        )
        if expect != self.u[:32]:
            raise UnsupportedEncryption("user password required")
        ikey = (
            hash_r6(pwd, ksalt, b"") if self.r == 6
            else hashlib.sha256(pwd + ksalt).digest()
        )
        self.key = cbc_decrypt(ikey, b"\x00" * 16, ue[:32], unpad=False)
        self.aes = True

    def check_user_password(self) -> bool:
        """Algorithm 6: recompute /U from the file key and compare
        (R2: full 32 bytes; R3+: first 16)."""
        expect = compute_u(self.key, self.doc_id, self.r)
        if self.r == 2:
            return expect == self.u[:32]
        return expect[:16] == self.u[:16]

    def object_key(self, num: int, gen: int) -> bytes:
        if self.v == 5:
            return self.key
        n = len(self.key)
        tail = b"sAlT" if self.aes else b""  # §7.6.2 AES salt
        h = hashlib.md5(
            self.key + struct.pack("<I", num)[:3]
            + struct.pack("<I", gen)[:2] + tail
        ).digest()
        return h[: min(n + 5, 16)]

    def decrypt(self, raw: bytes, num: int, gen: int) -> bytes:
        if self.v == 4 and getattr(self, "identity_streams", False):
            return raw  # /StmF /Identity: streams pass through
        key = self.object_key(num, gen)
        if self.aes:
            from .aes import cbc_decrypt

            if len(raw) < 16:
                return b""
            return cbc_decrypt(key, raw[:16], raw[16:])
        return rc4(key, raw)

    def permissions(self) -> dict:
        return permissions_dict(self.p, encrypted=True)


def hash_r6(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """PDF 2.0 Algorithm 2.B: the R6 iterated SHA-2/AES hash."""
    from .aes import cbc_encrypt

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        mod = int.from_bytes(e[:16], "big") % 3
        if mod == 0:
            k = hashlib.sha256(e).digest()
        elif mod == 1:
            k = hashlib.sha384(e).digest()
        else:
            k = hashlib.sha512(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def file_key(password: bytes, o: bytes, p: int, doc_id: bytes,
             r: int, length: int, encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: the file encryption key (R4: EncryptMetadata=false
    appends ffffffff to the hash input)."""
    n = max(5, min(16, length // 8)) if r >= 3 else 5
    h = hashlib.md5()
    h.update((password + PAD)[:32])
    h.update(o[:32])
    h.update(struct.pack("<i", _as_int32(p)))
    h.update(doc_id)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()[:n]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()[:n]
    return key


def compute_u(key: bytes, doc_id: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3+): the /U entry for a given file key."""
    if r == 2:
        return rc4(key, PAD)
    h = hashlib.md5(PAD + doc_id).digest()
    out = rc4(key, h)
    for i in range(1, 20):
        out = rc4(bytes(b ^ i for b in key), out)
    return out + b"\x00" * 16  # 16 bytes of arbitrary padding per spec


def _as_int32(v) -> int:
    """/P is a signed 32-bit value; some writers store it unsigned."""
    try:
        p = int(v)
    except (TypeError, ValueError):
        return -1
    if p > 0x7FFFFFFF:
        p -= 1 << 32
    return p


def _as_bytes(v) -> bytes:
    if isinstance(v, bytes):
        return v
    if isinstance(v, str):
        return v.encode("latin-1")
    return b""
