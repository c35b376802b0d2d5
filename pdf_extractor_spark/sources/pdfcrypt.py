"""Standard security handler for encrypted PDFs (empty user password).

The reference's parser (PyMuPDF, extract_outline.py:19) transparently
opens RC4/AES-encrypted files whose user password is empty — common for
"permissions-only" PDFs in web crawls. This module reproduces that
behavior with stdlib-only crypto:

  - RC4 (V1/V2 and V4 crypt filters with CFM /V2)
  - AES-128-CBC (V4 crypt filter /AESV2) and AES-256-CBC (V5 /AESV3,
    revisions 5 and 6) — a compact pure-Python AES validated against
    the published FIPS-197 test vectors in tests.
  - Key derivation per the PDF spec's standard security handler:
    Algorithm 2 (legacy MD5 key), the R2/R3+ user-password checks, the
    R5 SHA-256 and R6 iterated hash (2.B) for AES-256.

Files that actually require a non-empty password raise PdfError — the
caller converts that to an S4 failure row, exactly like PyMuPDF's
needs_pass path. Public-spec algorithms only (ISO 32000 / FIPS-197).
"""

from __future__ import annotations

import hashlib
import struct


class PdfCryptError(Exception):
    pass


# ----------------------------------------------------------------- RC4
def rc4(key: bytes, data: bytes) -> bytes:
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


# ----------------------------------------------------------------- AES
# GF(2^8) log/antilog tables over generator 3 — used to build the
# S-boxes and the MixColumns multiplications without hardcoded tables.
_ALOG = [1] * 256
for _i in range(1, 256):
    _v = _ALOG[_i - 1]
    _v = _v ^ ((_v << 1) & 0xFF) ^ (0x1B if _v & 0x80 else 0)  # times 3
    _ALOG[_i] = _v
_LOG = [0] * 256
for _i in range(255):
    _LOG[_ALOG[_i]] = _i


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _ALOG[(_LOG[a] + _LOG[b]) % 255]


def _rotl8(x: int, n: int) -> int:
    return ((x << n) | (x >> (8 - n))) & 0xFF


_SBOX = [0] * 256
for _x in range(256):
    _inv = 0 if _x == 0 else _ALOG[255 - _LOG[_x]]
    _SBOX[_x] = (
        _inv ^ _rotl8(_inv, 1) ^ _rotl8(_inv, 2) ^ _rotl8(_inv, 3) ^ _rotl8(_inv, 4) ^ 0x63
    )
_INV_SBOX = [0] * 256
for _x in range(256):
    _INV_SBOX[_SBOX[_x]] = _x
_RCON = [0x01]
for _i in range(1, 14):
    _RCON.append(_gmul(_RCON[-1], 2))


def _expand_key(key: bytes) -> list[list[int]]:
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise PdfCryptError(f"bad AES key length {len(key)}")
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([w[i - nk][j] ^ t[j] for j in range(4)])
    return w


def _add_round_key(s: list[int], w: list[list[int]], rnd: int) -> None:
    for c in range(4):
        word = w[4 * rnd + c]
        for r in range(4):
            s[r + 4 * c] ^= word[r]


_SHIFT = [(r + 4 * ((c + r) % 4)) for c in range(4) for r in range(4)]
_INV_SHIFT = [(r + 4 * ((c - r) % 4)) for c in range(4) for r in range(4)]


def _encrypt_block(block: bytes, w: list[list[int]], nr: int) -> bytes:
    s = list(block)
    _add_round_key(s, w, 0)
    for rnd in range(1, nr):
        s = [_SBOX[s[i]] for i in _SHIFT]
        ns = [0] * 16
        for c in range(4):
            a = s[4 * c : 4 * c + 4]
            ns[4 * c + 0] = _gmul(a[0], 2) ^ _gmul(a[1], 3) ^ a[2] ^ a[3]
            ns[4 * c + 1] = a[0] ^ _gmul(a[1], 2) ^ _gmul(a[2], 3) ^ a[3]
            ns[4 * c + 2] = a[0] ^ a[1] ^ _gmul(a[2], 2) ^ _gmul(a[3], 3)
            ns[4 * c + 3] = _gmul(a[0], 3) ^ a[1] ^ a[2] ^ _gmul(a[3], 2)
        s = ns
        _add_round_key(s, w, rnd)
    s = [_SBOX[s[i]] for i in _SHIFT]
    _add_round_key(s, w, nr)
    return bytes(s)


def _decrypt_block(block: bytes, w: list[list[int]], nr: int) -> bytes:
    s = list(block)
    _add_round_key(s, w, nr)
    for rnd in range(nr - 1, 0, -1):
        s = [_INV_SBOX[s[i]] for i in _INV_SHIFT]
        _add_round_key(s, w, rnd)
        ns = [0] * 16
        for c in range(4):
            a = s[4 * c : 4 * c + 4]
            ns[4 * c + 0] = _gmul(a[0], 14) ^ _gmul(a[1], 11) ^ _gmul(a[2], 13) ^ _gmul(a[3], 9)
            ns[4 * c + 1] = _gmul(a[0], 9) ^ _gmul(a[1], 14) ^ _gmul(a[2], 11) ^ _gmul(a[3], 13)
            ns[4 * c + 2] = _gmul(a[0], 13) ^ _gmul(a[1], 9) ^ _gmul(a[2], 14) ^ _gmul(a[3], 11)
            ns[4 * c + 3] = _gmul(a[0], 11) ^ _gmul(a[1], 13) ^ _gmul(a[2], 9) ^ _gmul(a[3], 14)
        s = ns
    s = [_INV_SBOX[s[i]] for i in _INV_SHIFT]
    _add_round_key(s, w, 0)
    return bytes(s)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC encrypt, NO padding (data must be a multiple of 16)."""
    w = _expand_key(key)
    nr = len(key) // 4 + 6
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        block = bytes(x ^ y for x, y in zip(data[i : i + 16], prev))
        prev = _encrypt_block(block, w, nr)
        out += prev
    return bytes(out)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC decrypt, NO padding strip (caller handles PKCS#5 if any)."""
    w = _expand_key(key)
    nr = len(key) // 4 + 6
    out = bytearray()
    prev = iv
    for i in range(0, len(data) - len(data) % 16, 16):
        block = data[i : i + 16]
        plain = _decrypt_block(block, w, nr)
        out += bytes(x ^ y for x, y in zip(plain, prev))
        prev = block
    return bytes(out)


# ----------------------------------------- standard security handler
_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def hash_2b(password: bytes, salt: bytes) -> bytes:
    """ISO 32000-2 algorithm 2.B — the R6 iterated password hash of a
    user password (the owner-password form also mixes in /U)."""
    k = hashlib.sha256(password + salt).digest()
    i = 0
    while True:
        k1 = (password + k) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        if mod == 0:
            k = hashlib.sha256(e).digest()
        elif mod == 1:
            k = hashlib.sha384(e).digest()
        else:
            k = hashlib.sha512(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


class StandardSecurityHandler:
    """Decryptor for the /Filter /Standard handler, empty user password.

    Raises PdfCryptError when the file genuinely needs a password or
    uses an unsupported scheme — the caller maps that to an S4 row."""

    def __init__(self, enc: dict, id0: bytes):
        filt = enc.get("Filter")
        if filt is not None and str(filt) != "Standard":
            raise PdfCryptError(f"unsupported security handler {filt!r}")
        self.v = self._as_int(enc.get("V"), 0)
        self.r = self._as_int(enc.get("R"), 2)
        self.p = self._as_int(enc.get("P"), -1)
        if self.p > 0x7FFFFFFF:  # stored unsigned by some writers
            self.p -= 0x100000000
        self.encrypt_metadata = bool(enc.get("EncryptMetadata", True))
        self.o_entry = self._as_bytes(enc.get("O"))
        self.u_entry = self._as_bytes(enc.get("U"))
        self.id0 = id0 or b""
        self.stm_cfm = "V2"
        self.str_cfm = "V2"

        if self.v in (1, 2):
            length = self._as_int(enc.get("Length"), 40)
            self.key_bytes = max(5, min(16, length // 8 if length >= 40 else length))
            self.key = self._legacy_key()
            self._check_user_password_legacy()
        elif self.v == 4:
            self.stm_cfm, self.str_cfm, self.key_bytes = self._crypt_filters(enc)
            self.key = self._legacy_key()
            self._check_user_password_legacy()
        elif self.v == 5:
            self.stm_cfm = self.str_cfm = "AESV3"
            self.key_bytes = 32
            self.key = self._aes256_key(enc)
        else:
            raise PdfCryptError(f"unsupported encryption V={self.v}")

    @staticmethod
    def _as_int(x, default: int) -> int:
        """Numeric /Encrypt entry, or PdfCryptError. A corrupt value
        (e.g. an array where /V should be) must triage as a crypt
        failure in lineage, not a raw TypeError/ValueError."""
        if not x:  # same falsy→default coercion as the `int(x or d)` it replaces
            return default
        try:
            return int(x)
        except (TypeError, ValueError) as exc:
            raise PdfCryptError(f"corrupt /Encrypt numeric entry {x!r}") from exc

    @staticmethod
    def _as_bytes(x) -> bytes:
        if isinstance(x, bytes):
            return x
        if isinstance(x, str):
            return x.encode("latin-1", "replace")
        return b""

    def _crypt_filters(self, enc: dict) -> tuple[str, str, int]:
        cf = enc.get("CF")
        if not isinstance(cf, dict):  # corrupt /CF → every lookup misses
            cf = {}
        names = {}
        for which, key in (("stm", "StmF"), ("str", "StrF")):
            name = str(enc.get(key, "Identity") or "Identity")
            if name == "Identity":
                # Identity = that class is NOT encrypted; it must not
                # contribute a key length (a fake 16 here made 40-bit
                # V4 files derive a 16-byte key and fail the otherwise
                # valid empty-password check)
                names[which] = ("Identity", None)
                continue
            entry = cf.get(name)
            if not isinstance(entry, dict):
                raise PdfCryptError(f"missing crypt filter {name}")
            cfm = str(entry.get("CFM", "None"))
            if cfm not in ("V2", "AESV2"):
                raise PdfCryptError(f"unsupported CFM {cfm}")
            length = entry.get("Length")
            if length is None:
                # CF Length default: the dict-level /Length, else the
                # spec default 40 bit (ISO 32000-1 table 25)
                length = enc.get("Length", 40) or 40
            length = self._as_int(length, 40)
            kb = length // 8 if length >= 40 else length  # bytes vs bits
            names[which] = (cfm, max(5, min(16, kb)))
        # one file key serves both classes (mupdf derives it from the
        # stream filter; fall back to the string filter, then 40-bit)
        kb = names["stm"][1] or names["str"][1] or 5
        return names["stm"][0], names["str"][0], kb

    # -- legacy (R2-R4) ---------------------------------------------
    def _legacy_key(self) -> bytes:
        h = hashlib.md5()
        h.update(_PAD)  # the empty user password, padded to 32 bytes
        h.update(self.o_entry[:32])
        h.update(struct.pack("<i", self.p))
        h.update(self.id0)
        if self.r >= 4 and not self.encrypt_metadata:
            h.update(b"\xff\xff\xff\xff")
        key = h.digest()
        n = self.key_bytes
        if self.r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:n]).digest()
        return key[:n]

    def _check_user_password_legacy(self) -> None:
        if self.r == 2:
            expect = rc4(self.key, _PAD)
            ok = expect == self.u_entry[:32]
        else:
            x = hashlib.md5(_PAD + self.id0).digest()
            x = rc4(self.key, x)
            for i in range(1, 20):
                step = bytes(b ^ i for b in self.key)
                x = rc4(step, x)
            ok = x == self.u_entry[:16]
        if not ok:
            raise PdfCryptError("encrypted PDF requires a password")

    # -- AES-256 (R5/R6) ----------------------------------------------
    def _aes256_key(self, enc: dict) -> bytes:
        u = self.u_entry
        ue = self._as_bytes(enc.get("UE"))
        if len(u) < 48 or len(ue) < 32:
            raise PdfCryptError("malformed AES-256 /U or /UE")
        pw = b""  # the empty user password
        vsalt, ksalt = u[32:40], u[40:48]
        if self.r == 5:
            valid = hashlib.sha256(pw + vsalt).digest()
            ikey = hashlib.sha256(pw + ksalt).digest()
        elif self.r == 6:
            valid = hash_2b(pw, vsalt)
            ikey = hash_2b(pw, ksalt)
        else:
            raise PdfCryptError(f"unsupported AES-256 revision {self.r}")
        if valid != u[:32]:
            raise PdfCryptError("encrypted PDF requires a password")
        return aes_cbc_decrypt(ikey, b"\x00" * 16, ue[:32])

    # -- per-object decryption ----------------------------------------
    def _obj_key(self, num: int, gen: int, aes: bool) -> bytes:
        h = hashlib.md5(
            self.key
            + (num & 0xFFFFFF).to_bytes(3, "little")
            + (gen & 0xFFFF).to_bytes(2, "little")
            + (b"sAlT" if aes else b"")
        ).digest()
        return h[: min(len(self.key) + 5, 16)]

    def decrypt(self, data: bytes, num: int, gen: int, kind: str = "stm") -> bytes:
        cfm = self.stm_cfm if kind == "stm" else self.str_cfm
        if cfm == "Identity" or not data:
            return data
        if cfm == "V2":
            return rc4(self._obj_key(num, gen, aes=False), data)
        key = self._obj_key(num, gen, aes=True) if cfm == "AESV2" else self.key
        iv, body = data[:16], data[16:]
        out = aes_cbc_decrypt(key, iv, body)
        pad = out[-1] if out else 0
        if 1 <= pad <= 16 and len(out) >= pad:
            out = out[:-pad]
        return out
