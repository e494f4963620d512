"""Scalar column functions reproducing the reference's per-row transforms.

Every function here returns a pyspark ``Column`` built from JVM-side
built-ins (``pyspark.sql.functions``) — no Python UDFs — so the whole
scalar chain stays inside whole-stage codegen and vectorized execution.

Semantics are pinned to the *actual* behavior of the reference (including
dead code paths), per SURVEY §7.4:

- identity extraction (``anonymize_statement``,
  /root/reference/src/main.rs:627-634): Rust's ``name.split('@').next()``
  always returns ``Some`` (possibly ``""``), so the written-out ``':'``
  fallback and final ``unwrap_or`` never fire. Effective semantics:
  ``value = split(name, '@')[0]``; empty value ⇒ the row is skipped via the
  error path (src/main.rs:376-380).
- anonymize hash (/root/reference/src/main.rs:636-641):
  ``hex(sha256(salt ‖ tenant ‖ value))`` — lowercase hex, exactly what
  Spark's ``sha2(col, 256)`` emits.
- statement escaping (``process_statement``,
  /root/reference/src/main.rs:33-37, 647-672): a 3-step backslash
  normalization + quote trimming + single-quote escaping. Exists only
  because the reference string-splices SQL INSERT VALUES
  (src/main.rs:890-895); we keep it as a declared string operator for
  parity but never use it to build SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Fixture-wide constants (FIXTURES.md "Opt-out dimension"): fixed so digests
# are stable across Spark and the DuckDB oracle.
FIXTURE_SALT = "fixture-salt"
FIXTURE_TENANT = "t1"


def email_localpart(name: Column) -> Column:
    """``split(name, '@')[0]`` — the effective identity-extraction rule.

    Reference: /root/reference/src/main.rs:627-631 (the ``':'`` fallback is
    dead code — see module docstring). Callers must pair this with
    ``filter(length(...) > 0)`` to reproduce the skip-on-empty behavior.
    """
    return F.split(name, "@").getItem(0)


def sha256_anonymize(
    name: Column,
    salt: str = FIXTURE_SALT,
    tenant: str = FIXTURE_TENANT,
) -> Column:
    """Salted anonymization hash: ``hex(sha256(salt ‖ tenant ‖ localpart))``.

    Reference: /root/reference/src/main.rs:636-641 (hasher fed salt, tenant,
    value in that order — equivalent to hashing the concatenation).
    """
    return F.sha2(F.concat(F.lit(salt), F.lit(tenant), email_localpart(name)), 256)


def regex_escape_statement(statement: Column) -> Column:
    """The reference's ``process_statement`` VALUES-literal escaping
    (/root/reference/src/main.rs:647-672), reproduced step for step:

    1. every non-overlapping 2-backslash run → 4 backslashes
       (``BACKSLASH_REGEX_1 = \\{2}`` replaced with 4, src/main.rs:34)
    2. ``BACKSLASH_REGEX_2 = \\(?:\\\\)*`` — greedy odd-length backslash
       runs; the reference replaces matches of odd length with 2 backslashes.
       Since ``1 + 2k`` is always odd, the conditional always fires, so this
       is an unconditional replace (src/main.rs:35, 652-658).
    3. runs of ≥4 backslashes → 4 backslashes (``BACKSLASH_REGEX_3``).
    4. strip ALL leading and trailing double-quotes (``trim_*_matches('"')``).
    5. ``\\'`` → ``\\\\'`` then ``'`` → ``\\'`` (src/main.rs:667-669).

    Net effect of 1-3 on any maximal backslash run: odd length → 2
    backslashes, even length → 4. Kept for declared-operator parity; our
    sinks use parameterized/columnar writes, never string-spliced SQL.
    """
    c = F.regexp_replace(statement, r"\\{2}", r"\\\\\\\\")
    c = F.regexp_replace(c, r"\\(?:\\\\)*", r"\\\\")
    c = F.regexp_replace(c, r"\\{4,}", r"\\\\\\\\")
    c = F.regexp_replace(c, r'^"+', "")
    c = F.regexp_replace(c, r'"+$', "")
    c = F.replace(c, F.lit("\\'"), F.lit("\\\\'"))
    c = F.replace(c, F.lit("'"), F.lit("\\'"))
    return c


def timestamp_format(ts: Column) -> Column:
    """Millisecond-precision wall-clock string, the sink format of the
    reference (``%Y-%m-%d %H:%M:%S%.3f``, /root/reference/src/main.rs:857-862)
    — but in the session timezone (pinned UTC), not container-local time.
    """
    return F.date_format(ts, "yyyy-MM-dd HH:mm:ss.SSS")


def objectid_hex(id_col: Column) -> Column:
    """24-hex-char document id, the shape of ``ObjectId::to_hex``
    (/root/reference/src/main.rs:367). Fixture ids are int64, so render as
    zero-padded lowercase hex."""
    return F.format_string("%024x", id_col)
