"""PDF Standard Security Handler — empty-user-password decryption (U2+).

The reference ships qpdf (/root/reference/Dockerfile:25) and so reads the
most common "encrypted" PDFs on a real crawl: files encrypted with an
OWNER password only (print/copy restrictions), whose USER password is
empty — any reader can open them. This module implements the public
ISO 32000-1 §7.6 / ISO 32000-2 §7.6.4 Standard security handler for
exactly that case:

* key derivation (Algorithm 2) for revisions R=2 (RC4-40), R=3/4
  (RC4-128 / AES-128 "AESV2");
* AES-256 "AESV3" (V=5): R=6 key derivation via the ISO 32000-2
  Algorithm 2.B iterated SHA-256/384/512 hash, plus the deprecated
  Adobe R=5 single-SHA-256 variant — /U validates the (empty) user
  password, /UE unwraps the 256-bit file key;
* user-password verification (Algorithms 4/5, resp. 2.A step f) — only
  an EMPTY user password is attempted; anything else stays tagged
  ``encrypted``;
* per-object keys (Algorithm 1; V=5 uses the file key directly) and
  RC4 / AES-CBC stream decryption.

AES-128/256 CBC comes from the ``cryptography`` package (OpenSSL), an
executor-side requirement like ``pyarrow``; both directions are exposed,
the forward one so tests can build real encrypted fixtures and prove a
round trip rather than pinning canned bytes. RC4 stays a ~15-line pure
Python function: ``cryptography``'s ARC4 accepts only 40/56/64/80/128-bit
keys, while ISO 32000 allows any /Length from 40 to 128 bits in steps of
8, and per-object keys are the file key plus 5 bytes (11 bytes for
/Length 48).
No Spark imports.
"""

from __future__ import annotations

import functools as _functools
import hashlib
import struct

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

# ISO 32000-1 Table 21 padding string (Algorithm 2 step a)
PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


# ---------------------------------------------------------------------------
# RC4
# ---------------------------------------------------------------------------

def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: same call encrypts and decrypts)."""
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = byte ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------------------
# AES-128/256, CBC mode (OpenSSL via ``cryptography``) — decrypt for the
# extractor, encrypt so the test fixtures can produce REAL AESV2/AESV3 files.
# An unsupported key length raises ValueError from ``algorithms.AES``.
# ---------------------------------------------------------------------------

def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """AESV2 stream layout: 16-byte IV prefix + ciphertext; PKCS#7 pad.
    Malformed input (bad length / bad padding) raises ValueError — the
    caller degrades to the ``encrypted`` tag rather than emitting noise."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("AES ciphertext not a whole number of blocks")
    out = aes_cbc_decrypt_nopad(key, data[:16], data[16:])
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad AES-CBC padding")
    return out[:-pad]


def aes_cbc_encrypt(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """Forward CBC with PKCS#7 pad and IV prefix (fixture builder)."""
    pad = 16 - (len(plaintext) % 16)
    return iv + aes_cbc_encrypt_nopad(key, iv,
                                      plaintext + bytes([pad]) * pad)


def aes_cbc_encrypt_nopad(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """Raw CBC, no padding, no IV prefix — the mode ISO 32000-2 uses for
    the Algorithm 2.B hash rounds and the /UE//OE key wrap."""
    if len(plaintext) % 16:
        raise ValueError("CBC-nopad plaintext not a whole block multiple")
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return enc.update(plaintext) + enc.finalize()


def aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC decrypt, no padding, no IV prefix (/UE//OE unwrap)."""
    if len(data) % 16:
        raise ValueError("CBC-nopad ciphertext not a whole block multiple")
    dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
    return dec.update(data) + dec.finalize()


# ---------------------------------------------------------------------------
# Standard security handler algorithms (ISO 32000-1 §7.6.3)
# ---------------------------------------------------------------------------

def _padded(password: bytes) -> bytes:
    return (password + PAD)[:32]


def compute_key(o_entry: bytes, p: int, id0: bytes, r: int,
                length_bytes: int, password: bytes = b"",
                encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: file encryption key from the (user) password."""
    h = hashlib.md5(_padded(password))
    h.update(o_entry[:32])
    # low 32 bits little-endian: some producers write /P as the UNSIGNED
    # 32-bit value (e.g. 4294967252 for -44) — identical bytes either way,
    # and '<i' would raise struct.error on the unsigned form
    h.update(struct.pack("<I", p & 0xFFFFFFFF))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    n = length_bytes if r >= 3 else 5
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int,
              length_bytes: int) -> bytes:
    """Algorithm 3: the /O entry (fixture builder)."""
    key = hashlib.md5(_padded(owner_pw or user_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    n = length_bytes if r >= 3 else 5
    rc4key = key[:n]
    o = rc4(rc4key, _padded(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in rc4key), o)
    return o


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithms 4 (R=2) / 5 (R>=3): the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    u = rc4(key, hashlib.md5(PAD + id0).digest())
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def verify_user_password(key: bytes, u_entry: bytes, id0: bytes,
                         r: int) -> bool:
    want = compute_u(key, id0, r)
    if r == 2:
        return u_entry[:32] == want
    return u_entry[:16] == want[:16]


# ---------------------------------------------------------------------------
# AES-256 revisions (ISO 32000-2 §7.6.4.3.4 Algorithm 2.B / §7.6.4.4.8;
# R=5 is the deprecated Adobe ExtensionLevel-3 single-SHA-256 variant)
# ---------------------------------------------------------------------------

@_functools.lru_cache(maxsize=256)
def hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B: iterated SHA-256/384/512 password hash.

    At least 64 rounds; from round 64 on, stop once the last byte of the
    round's AES output E is ≤ (round − 32). ``udata`` is the 48-byte /U
    string when hashing an OWNER password, else empty.

    Deliberately expensive by spec: it is a password KDF of at least 64
    rounds, each AES-encrypting a 64-fold repeated buffer (~16k blocks per
    hash, a few ms through OpenSSL). The lru_cache makes cost per DISTINCT
    (password, salt, udata), so a corpus whose producer reused salts (the
    fixture does, corpus-wide) pays once; a real crawl with per-doc salts
    pays per doc."""
    k = hashlib.sha256(password + salt + udata).digest()
    rnd = 0
    while True:
        rnd += 1
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _hash_r56(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    if r == 5:
        return hashlib.sha256(password + salt + udata).digest()
    return hash_2b(password, salt, udata)


def verify_user_password_r6(u_entry: bytes, r: int,
                            password: bytes = b"") -> bool:
    """Algorithm 2.A step f (user path): hash(password, validation salt)
    must equal the first 32 bytes of the 48-byte /U string."""
    if len(u_entry) < 48:
        raise ValueError("AESV3 /U entry shorter than 48 bytes")
    return _hash_r56(password, u_entry[32:40], b"", r) == u_entry[:32]


def compute_key_r6(u_entry: bytes, ue_entry: bytes, r: int,
                   password: bytes = b"") -> bytes:
    """Algorithm 2.A step g (user path): the intermediate key
    hash(password, key salt) AES-256-CBC-decrypts /UE (zero IV, no
    padding) into the 256-bit file encryption key."""
    if len(u_entry) < 48 or len(ue_entry) < 32:
        raise ValueError("AESV3 /U or /UE entry too short")
    ik = _hash_r56(password, u_entry[40:48], b"", r)
    return aes_cbc_decrypt_nopad(ik, b"\x00" * 16, ue_entry[:32])


def compute_u_ue_r6(password: bytes, file_key: bytes, vsalt: bytes,
                    ksalt: bytes, r: int = 6) -> tuple[bytes, bytes]:
    """Fixture-side Algorithm 8: build the /U (48 bytes) and /UE (32
    bytes) entries for a chosen file key and salts."""
    u = _hash_r56(password, vsalt, b"", r) + vsalt + ksalt
    ik = _hash_r56(password, ksalt, b"", r)
    ue = aes_cbc_encrypt_nopad(ik, b"\x00" * 16, file_key)
    return u, ue


def compute_o_oe_r6(owner_pw: bytes, file_key: bytes, u_entry: bytes,
                    vsalt: bytes, ksalt: bytes,
                    r: int = 6) -> tuple[bytes, bytes]:
    """Fixture-side Algorithm 9: /O//OE — the owner hashes salt the full
    48-byte /U string as ``udata``."""
    o = _hash_r56(owner_pw, vsalt, u_entry[:48], r) + vsalt + ksalt
    ik = _hash_r56(owner_pw, ksalt, u_entry[:48], r)
    oe = aes_cbc_encrypt_nopad(ik, b"\x00" * 16, file_key)
    return o, oe


def compute_perms_r6(p: int, encrypt_metadata: bool, file_key: bytes,
                     rand4: bytes = b"\x00\x00\x00\x00") -> bytes:
    """Fixture-side Algorithm 10: the /Perms entry — 16 plaintext bytes
    (P as LE int32, 0xFF×4, 'T'/'F', 'adb', 4 free bytes) AES-256-ECB
    encrypted with the file key (ECB of one block == CBC with zero IV)."""
    block = (struct.pack("<i", p if p < 2 ** 31 else p - 2 ** 32)
             + b"\xff\xff\xff\xff"
             + (b"T" if encrypt_metadata else b"F") + b"adb" + rand4)
    return aes_cbc_encrypt_nopad(file_key, b"\x00" * 16, block)


def object_key(file_key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: per-object key."""
    h = hashlib.md5(file_key + num.to_bytes(3, "little")
                    + gen.to_bytes(2, "little")
                    + (b"sAlT" if aes else b""))
    return h.digest()[:min(len(file_key) + 5, 16)]


class StandardDecryptor:
    """Per-object stream/string decryption for a verified file key.

    ``v5`` (AESV3): ISO 32000-2 drops the per-object MD5 derivation —
    every stream/string uses the 256-bit file key directly, same
    IV-prefix + PKCS#7 CBC stream layout."""

    def __init__(self, file_key: bytes, aes: bool, v5: bool = False):
        self.file_key = file_key
        self.aes = aes or v5
        self.v5 = v5

    def _key(self, num: int, gen: int) -> bytes:
        if self.v5:
            return self.file_key
        return object_key(self.file_key, num, gen, self.aes)

    def decrypt(self, num: int, gen: int, data: bytes) -> bytes:
        k = self._key(num, gen)
        if self.aes:
            return aes_cbc_decrypt(k, data)
        return rc4(k, data)

    def encrypt(self, num: int, gen: int, data: bytes,
                iv: bytes = b"\x00" * 16) -> bytes:
        """Fixture-side inverse (RC4 is symmetric; AES needs an IV)."""
        k = self._key(num, gen)
        if self.aes:
            return aes_cbc_encrypt(k, iv, data)
        return rc4(k, data)
