"""Two-stage text quality gate.

Analog of the reference's native-text quality classifier
(``utils.py:107-138`` in /root/reference): stage 1 checks the ratio of
"valid" characters; stage 2 checks the ratio of dictionary words among
tokens, short-circuiting when there are too few words. The thresholds
mirror the reference defaults (``config.py:56-57``: min_native_text_chars=100,
dictionary ratio 0.3; char-validity 0.85 at ``utils.py:125``).

The default backend (core/routes.py) evaluates the same serial functions
per row inside the Spark kernel, so the kernel's gate is the oracle's.
"""

from __future__ import annotations

import re

# Thresholds (reference: config.py:56-57, utils.py:125).
MIN_NATIVE_TEXT_CHARS = 100
CHAR_VALID_RATIO = 0.85
DICT_HIT_RATIO = 0.30
MIN_WORDS = 5

# Valid characters: Latin letters incl. the Vietnamese range the reference
# targets (utils.py:116-125), digits, whitespace, common punctuation.
_VALID_CHAR_RE = re.compile(r"[A-Za-z0-9À-ỹ\s\.,;:!\?\-'\"\(\)/%&+@#*\[\]_=<>|]")

# Token regex, identical to the reference's (utils.py:133).
TOKEN_RE = re.compile(r"[A-Za-zÀ-ỹ]+")

# Dictionary: common English function words + the reference's notion of a
# language dictionary (config.py:58, vi_full.txt). Kept small and static so
# the gate is deterministic and broadcast-friendly; at cluster scale this is
# a broadcast variable of a frozenset (SURVEY.md §1.3).
DICTIONARY = frozenset(
    """
    the a an and or not of to in on at for with from by as is are was were be
    been being have has had do does did will would can could should may might
    this that these those it its he she they them we you i his her their our
    but if then else when while where which who whom what how why all any some
    no yes more most less least very just also only than into over under
    about after before between during through against without within
    new old big small fast slow high low long short good bad first last
    table scan join filter sort merge hash group agg window order key value
    row column data query batch stream vector part line customer spark dup
    page text word document content index search result item list
    """.split()
)

_WS_COLLAPSE_RE = re.compile(r"\s+")


def normalize_ws(text: str) -> str:
    """Collapse all whitespace runs to single spaces and strip."""
    return _WS_COLLAPSE_RE.sub(" ", text).strip()


def valid_char_ratio(text: str) -> float:
    """Share of characters in the valid charset (utils.py:116-125 analog)."""
    if not text:
        return 0.0
    return len(_VALID_CHAR_RE.findall(text)) / len(text)


def dict_hit_ratio(text: str) -> float:
    """Share of tokens found in DICTIONARY; 0.0 if < MIN_WORDS tokens.

    Analog of the reference's stage-2 check (utils.py:128-138): tokenize with
    TOKEN_RE, lowercase, short-circuit below MIN_WORDS.
    """
    tokens = TOKEN_RE.findall(text)
    if len(tokens) < MIN_WORDS:
        return 0.0
    hits = sum(1 for t in tokens if t.lower() in DICTIONARY)
    return hits / len(tokens)


def quality_ok(text: str | None) -> bool:
    """Serial two-stage gate (utils.py:107-138 analog)."""
    if text is None:
        return False
    if valid_char_ratio(text) < CHAR_VALID_RATIO:
        return False
    return dict_hit_ratio(text) >= DICT_HIT_RATIO


def fastpath_ok(text: str | None) -> bool:
    """Native-text gate: length >= MIN_NATIVE_TEXT_CHARS AND quality_ok.

    Analog of parallel.py:295-307.
    """
    return text is not None and len(text) >= MIN_NATIVE_TEXT_CHARS and quality_ok(text)
