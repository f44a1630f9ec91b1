"""Name/string normalization as native Column expressions.

Reference: the GP-name normalization Python UDF at
src/jobs/utils/transformations/common.py:24-55 (strip "Grand Prix" suffix,
fold accents, lowercase, non-alphanumerics → underscore). Re-expressed with
``lower``/``translate``/``regexp_replace`` so it stays in whole-stage codegen
(SURVEY §2.10 rule: zero Python UDFs for parity features).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Latin-1 + common Latin-extended accent fold table (covers the F1 calendar:
# São Paulo, Imola, México, Zandvoort, ...).
_ACCENTED = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝšŠžŽ"
_FOLDED = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUYsSzZ"
_FOLD_TABLE = str.maketrans(_ACCENTED, _FOLDED)


def fold_accents(col: Column) -> Column:
    return F.translate(col, _ACCENTED, _FOLDED)


def normalize_name(col: Column, strip_suffix: str | None = None) -> Column:
    """lowercase, accent-folded, non-alphanumerics collapsed to ``_``.

    ``strip_suffix`` removes a trailing phrase first (the reference strips
    " Grand Prix", common.py:33-36).
    """
    c = F.trim(col)
    if strip_suffix:
        c = F.regexp_replace(c, rf"(?i)\s*{strip_suffix}\s*$", "")
    c = F.lower(fold_accents(c))
    c = F.regexp_replace(c, r"[^a-z0-9]+", "_")
    return F.regexp_replace(c, r"^_+|_+$", "")


def normalize_grand_prix_name(col: Column) -> Column:
    """'São Paulo Grand Prix' → 'sao_paulo' (common.py:24-55 semantics)."""
    return normalize_name(col, strip_suffix="grand prix")


# Java regex semantics for the suffix strip in the Column version: ``\s`` and
# ``(?i)`` are ASCII-only (``re.ASCII``), and ``$`` also matches before one
# final line terminator (``\r\n``, ``\n``, ``\r``, ``\u0085``, ``\u2028``,
# ``\u2029``), where Python's ``$`` knows only ``\n``.
_GP_SUFFIX = re.compile(
    r"\s*grand prix\s*(?=(?:\r\n|[\n\r\u0085\u2028\u2029])?\Z)", re.I | re.A
)
_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def normalize_grand_prix_name_py(name: str) -> str:
    """Pure-Python twin of :func:`normalize_grand_prix_name` for a single
    value on the driver, so canonicalizing a GP argument starts no Spark
    job. Spark's ``trim`` strips spaces only, hence ``strip(" ")``."""
    c = _GP_SUFFIX.sub("", name.strip(" "))
    c = _NON_ALNUM.sub("_", c.translate(_FOLD_TABLE).lower())
    return c.strip("_")
