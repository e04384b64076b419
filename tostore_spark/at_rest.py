"""At-rest encryption config for stored table data.

Reference: ``EncryptionConfig`` on the store config — "encrypting table
data, log files, index data, and other critical privacy data"
(data_store_config.dart:40-41,946-1005), with types none / xor /
chacha20-poly1305 / aes-256-gcm and optional caller-supplied keys.

Spark-first re-expression: fields marked ``encrypted=True`` in their
``TableSchema`` are AES-256-GCM-encrypted (the one vetted JVM-side
primitive Spark ships — ``aes_encrypt``; the reference's xor/chacha
tiers are deliberately NOT re-implemented, xor because it is
obfuscation not encryption, chacha because no built-in expression
exists and a Python-side cipher would put a row-at-a-time UDF in every
scan) at the WRITE boundary (``to_stored``) and decrypted at the READ
boundary (``to_visible``, after the TTL live filter).  Every engine
read and write crosses through these two functions.  Everything
between the boundaries — flushed parquet segments, append deltas,
replace epochs, version history, backups — holds ciphertext; everything
user-facing — ``df()``, query builders, CDC feeds, ``df_at`` — sees
plaintext.  Ciphertext is base64 text, so column types and schema
round-trips are unchanged.

Any declared type may encrypt (r12; the reference encrypts all table
data): non-text values route through a lossless JSON envelope —
``to_json(struct(value AS v))`` before ``aes_encrypt``, inverted with
``from_json`` at the read boundary — because a bare cast-to-string
round-trip would silently reformat binary/timestamp/decimal values.
Encrypted non-text columns are therefore STORED as string (base64
ciphertext) and surface with their declared type at every read.

What the config refuses, and why (validated at ``create_table``):

- the primary key / unique fields: deletion vectors, replace-epoch
  key sets and upsert matching anti-join on key VALUES — GCM is
  randomized, so ciphertext equality would not hold;
- indexed / TTL-source / FK / partition / bloom fields: each is
  consulted as a VALUE by the layout or pruning machinery.

Footer stats interplay: flushed files carry ciphertext bounds for
encrypted columns — meaningless against plaintext predicates and a
wrong-prune hazard, so the flush STRIPS encrypted columns from the
per-segment/per-file stats (predicates on them simply never prune:
undecidable-keeps-the-segment, the layer's standing rule).

Key handling: the key lives in the engine (``encryption=`` at
construction), never on disk.  The warehouse keeps a ``_crypto.json``
verifier (random salt + sha256(salt ‖ key)) so a reopen with a wrong
or missing key fails LOUDLY at load instead of surfacing garbage; the
digest does not reveal the key.  Exports that would declassify
(``export_delta``, ``export_iceberg`` and ``export_table``) refuse
unless explicitly allowed (``allow_decrypted=True``;
``plans/export_tail.refuse_declassify``).
"""
from __future__ import annotations

import hashlib
import json
import os
import secrets
from dataclasses import dataclass

from tostore_spark.ttl import ttl_filter

__all__ = ["EncryptionConfig", "encrypted_spec", "to_stored",
           "to_visible", "encrypt_frame", "decrypt_frame",
           "write_key_check", "verify_key_check"]

_CRYPTO_SIDECAR = "_crypto.json"

#: JSON-envelope codec options: to_json's default timestamp format is
#: MILLISECOND-precision (micros silently truncate) and session-tz
#: dependent — pin micros + UTC so the envelope is lossless and the
#: ciphertext decodes identically under any reader session timezone
_ENVELOPE_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
                  "timezone": "UTC"}


@dataclass
class EncryptionConfig:
    """Warehouse at-rest encryption: ``key`` is any passphrase (sha256-
    normalized to an AES-256 key); ``algorithm`` is fixed to aes_gcm —
    see the module doc for why the reference's other tiers are not
    offered."""

    key: str
    algorithm: str = "aes_gcm"

    def __post_init__(self):
        if not self.key:
            raise ValueError("EncryptionConfig requires a non-empty key")
        if self.algorithm != "aes_gcm":
            raise ValueError(
                f"unsupported at-rest algorithm {self.algorithm!r}; "
                "only 'aes_gcm' is offered (module doc)")


def encrypted_spec(schema, config: EncryptionConfig | None) -> dict:
    """column → canonical PLAINTEXT Spark type for every field the
    ``schema`` marks encrypted — the typed-envelope spec both
    ``encrypt_frame`` and ``decrypt_frame`` need to round-trip non-text
    values losslessly.  Empty without a config (the feature is
    entirely opt-in)."""
    if config is None or schema is None:
        return {}
    from tostore_spark.schema import spark_type_for
    return {f.name: spark_type_for(f.type) for f in schema.fields
            if getattr(f, "encrypted", False)}


def to_stored(df, schema, config: EncryptionConfig | None):
    """The visible→stored boundary: encrypt the columns ``schema``
    marks encrypted.  A table without any returns ``df`` itself."""
    spec = encrypted_spec(schema, config)
    if not spec:
        return df
    return encrypt_frame(df, list(spec), config.key, types=spec)


def to_visible(df, schema, config: EncryptionConfig | None = None):
    """The stored→visible boundary: the TTL live filter, then
    decryption of the columns ``schema`` marks encrypted.  Without a
    ``config`` only the TTL half applies and the frame stays at rest
    (backups, the flush sweep).  A table with neither returns ``df``
    itself — no plan node, no py4j call."""
    df = ttl_filter(df, schema.ttl)
    spec = encrypted_spec(schema, config)
    if not spec:
        return df
    return decrypt_frame(df, list(spec), config.key, types=spec)


def _key_col(key: str):
    from pyspark.sql import functions as F
    return F.lit(hashlib.sha256(key.encode()).digest())


def encrypt_frame(df, cols: list[str], key: str, types: dict | None = None):
    """Base64(AES-GCM) the named columns; other columns pass through.
    Null stays null.  A pure projection — preserves the frame's
    partitioning and any within-partition sort.

    ``types`` maps column → PLAINTEXT Spark type for non-text fields
    (r11-verdict order: the reference encrypts ALL table data, not just
    text).  A non-string type routes through a lossless JSON envelope —
    ``to_json(struct(value AS v))`` — before ``aes_encrypt``, because a
    bare cast-to-string round-trip would silently reformat values
    (binary, timestamps, decimals); ``decrypt_frame`` inverts with
    ``from_json`` against the same type.  The value is cast to the
    declared type first, so the envelope always encodes the CANONICAL
    type regardless of the registered frame's physical type.  Missing
    from ``types`` (or StringType) keeps the raw-string path — the
    layout every pre-r12 ciphertext was written with."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    todo = [c for c in cols if c in df.columns]
    if not todo:
        return df
    k = _key_col(key)

    def enc(c):
        t = (types or {}).get(c)
        if t is None or isinstance(t, T.StringType):
            payload = F.col(c)
        else:
            payload = F.to_json(F.struct(F.col(c).cast(t).alias("v")),
                                _ENVELOPE_OPTS)
        ct = F.base64(F.aes_encrypt(payload, k, F.lit("GCM")))
        return F.when(F.col(c).isNotNull(), ct).alias(c)

    return df.select(*[enc(c) if c in todo else F.col(c)
                       for c in df.columns])


def decrypt_frame(df, cols: list[str], key: str, types: dict | None = None):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    todo = [c for c in cols if c in df.columns]
    if not todo:
        return df
    k = _key_col(key)

    def dec(c):
        raw = (F.aes_decrypt(F.unbase64(F.col(c)), k, F.lit("GCM"))
                .cast("string"))
        t = (types or {}).get(c)
        if t is None or isinstance(t, T.StringType):
            return raw.alias(c)
        env = T.StructType([T.StructField("v", t)])
        return F.from_json(raw, env, _ENVELOPE_OPTS)["v"].alias(c)

    return df.select(*[dec(c) if c in todo else F.col(c)
                       for c in df.columns])


def _digest(salt: str, key: str) -> str:
    return hashlib.sha256((salt + key).encode()).hexdigest()


def write_key_check(warehouse: str, key: str) -> None:
    """Create the warehouse key verifier if absent; verify against it
    if present (two engines configured with different keys must not
    interleave ciphertexts in one warehouse)."""
    path = os.path.join(warehouse, _CRYPTO_SIDECAR)
    if os.path.exists(path):
        verify_key_check(warehouse, key)
        return
    os.makedirs(warehouse, exist_ok=True)
    salt = secrets.token_hex(16)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"salt": salt, "digest": _digest(salt, key),
                   "algorithm": "aes_gcm"}, fh)
    os.replace(tmp, path)


def verify_key_check(warehouse: str, key: str | None) -> None:
    """Raise when the warehouse holds encrypted data and ``key`` is
    missing or does not match the verifier.  No verifier = nothing was
    ever encrypted here = nothing to check."""
    path = os.path.join(warehouse, _CRYPTO_SIDECAR)
    if not os.path.exists(path):
        return
    with open(path) as fh:
        rec = json.load(fh)
    if key is None:
        raise ValueError(
            f"warehouse {warehouse} holds encrypted tables; pass "
            "encryption=EncryptionConfig(key=...) to open it")
    if _digest(rec["salt"], key) != rec["digest"]:
        raise ValueError(
            f"wrong at-rest encryption key for warehouse {warehouse}")
