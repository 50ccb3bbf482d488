"""Oracle E3 labeling: sequential-Python implementation of the token
labeling → run-merge → first-wins pivot dataflow (reference ocr.py:135-432),
preserving its verified quirks:

- label-pass ordering: title > rrn > issuer > issue_date (with the
  road-number guard) > address; the address pass can only fire on tokens
  still labeled "O" (reference ocr.py:226-254)
- name inference: fast path when rrn index == title index + 2 (no fallback
  scan if it fails); otherwise greedy-first scan strictly between the
  anchors; substring keyword veto (홍길동 vetoed via "동"/"길")
- neighbor relabel reads the pre-pass label of the next token (forward loop
  over an in-place list ⇒ equivalent to lead() over pre-pass labels)
- date runs chunked 3-at-a-time; only valid Y/M/D triples merge to "Y.M.D"
- first-wins pivot; issue_date accepted only as a dotted triple

The doc kernel (operators/doc_kernel.py) calls this module per document;
operators/extract_fields.py implements the identical semantics as
Column/Window expressions, SQL-verified by contract q15-q17.
"""

from __future__ import annotations

import re
from itertools import groupby

from py_image_toolkit_spark.functions import vocab as V

# re.ASCII: the vocabulary regexes are deliberately ASCII-digit-only in BOTH
# dialects — Java rlike's \d is ASCII, Python's is Unicode; without the flag
# a full-width/Arabic-Indic digit token would label differently between this
# module (the doc kernel and q17's Arrow kernel) and the Column labeling's
# rlike (label_pass1, contract q15-q17). The parity fixture carries a
# non-ASCII-digit token to pin this down.
_RRN_DASHED = re.compile(V.RRN_DASHED_RE, re.ASCII)
_RRN_PLAIN = re.compile(V.RRN_PLAIN_RE, re.ASCII)
_YEAR = re.compile(V.YEAR_RE, re.ASCII)
_MONTH = re.compile(V.MONTH_RE, re.ASCII)
_DAY = re.compile(V.DAY_RE, re.ASCII)
_NAME = re.compile(V.NAME_RE, re.ASCII)
_ADDR_UNIT = re.compile(V.ADDR_UNIT_RE, re.ASCII)
_ADDR_ROAD = re.compile(V.ADDR_ROAD_RE, re.ASCII)
_ADDR_SUFFIX = re.compile(V.ADDR_SUFFIX_RE, re.ASCII)
_ADDR_NUMERIC = re.compile(V.ADDR_NUMERIC_RE, re.ASCII)

_ASCII_DIGITS = frozenset("0123456789")


def _ascii_digits(s: str) -> bool:
    """ASCII-only stand-in for str.isdigit() (which accepts Unicode digits —
    the rlike side's hardcoded ^[0-9]+$ does not)."""
    return bool(s) and all(c in _ASCII_DIGITS for c in s)

# precompiled alternations — C-level single scans replacing Python-level
# keyword loops (semantics identical: substring-any ⟺ alternation search,
# endswith-any ⟺ anchored alternation)
def _alt(kws):  # contains-any
    return re.compile("|".join(map(re.escape, kws)))


def _alt_end(sfxs):  # endswith-any
    return re.compile("(?:" + "|".join(map(re.escape, sfxs)) + ")$")


_ISSUER_SUFFIX_RE = _alt_end(V.ISSUER_SUFFIXES)
_ISSUER_ORG_RE = _alt(V.ISSUER_ORG_KEYWORDS)
_ISSUER_ORG_SFX_RE = _alt_end(V.ISSUER_ORG_SUFFIXES)
_ADDR_KW_RE = _alt(V.ADDRESS_KEYWORDS)
_MULTIWORD_RE = _alt(V.MULTIWORD_ADDRESS_KEYWORDS)
_CLEAR_RE = _alt(V.CLEAR_ADDRESS_INDICATORS)
_ROAD_RE = _alt(V.ROAD_KEYWORDS)
_REGION_RE = _alt(V.REGION_KEYWORDS)
_VETO_RE = _alt(V.NAME_VETO_KEYWORDS)

# fast path: every pass-1 rule requires a digit or a Hangul syllable
# somewhere in the token (titles/issuers/keywords are Korean; rrn/date/
# address shapes need digits) — a token without either is always 'O'.
_RELEVANT_RE = re.compile(r"[0-9가-힣]")


def _is_issuer(text: str) -> bool:
    """≙ reference ocr.py:181-207 (H10), incl. the operator-precedence quirk:
    the trailing ``endswith 학교 and not contains 대학교`` clause stands alone."""
    if _ISSUER_SUFFIX_RE.search(text):
        return True
    org_hit = bool(_ISSUER_ORG_RE.search(text)) and bool(_ISSUER_ORG_SFX_RE.search(text))
    school_hit = "학교장" in text or (text.endswith("학교") and "대학교" not in text)
    return org_hit or school_hit


def _is_rrn(text: str) -> bool:
    return bool(
        _RRN_DASHED.fullmatch(text)
        or _RRN_PLAIN.fullmatch(text.replace("-", "").replace(" ", ""))
    )


def _is_date_component(text: str) -> bool:
    return bool(_YEAR.fullmatch(text) or _MONTH.fullmatch(text) or _DAY.fullmatch(text))


def _is_addressish(text: str) -> bool:
    """≙ reference ocr.py:229-244 (H12) address-shape disjunction."""
    return bool(
        _ADDR_KW_RE.search(text)
        or _ADDR_UNIT.search(text)
        or _ADDR_ROAD.search(text)
        or _ADDR_SUFFIX.search(text)
        or _ADDR_NUMERIC.search(text)
        or (len(text.split()) > 1 and _MULTIWORD_RE.search(text))
    )


def _name_vetoed(text: str) -> bool:
    """substring veto over title/rrn/address keyword sets (H13)."""
    return bool(_VETO_RE.search(text))


def _token_info(text: str) -> tuple[str, str, bool, bool, bool, bool]:
    """All per-token decisions, computed once per DISTINCT token:

        (label_no_guard, label_guarded, is_road, guardable, name_ok,
         region_short)

    The pass-1 classification depends on the previous token only through
    the C4 road guard, and the guard can only fire on ``guardable`` tokens
    (ASCII digits, ≤2 chars) — so both guard outcomes are pure functions of
    the token text. This is the same dictionary-encoding insight as the
    relational ``label_pass1(dict_encode=True)``, applied kernel-locally:
    natural-language vocabularies are Zipf-bounded, so the ~15 regex tests
    run once per distinct token instead of once per occurrence (measured:
    the E3 label stage drops from 27% of doc-kernel time to lookups)."""
    guardable = _ascii_digits(text) and len(text) <= 2
    is_road = _ROAD_RE.search(text) is not None
    name_ok = bool(_NAME.fullmatch(text)) and not _name_vetoed(text)
    region_short = len(text) < 10 and _REGION_RE.search(text) is not None

    if not _RELEVANT_RE.search(text):
        # no digit/Hangul → provably 'O' (fast path)
        return ("O", "O", is_road, guardable, name_ok, region_short)
    if text in V.DOC_TITLE_KEYWORDS:
        return ("document_title", "document_title", is_road, guardable, name_ok, region_short)
    if _is_rrn(text):
        return ("rrn", "rrn", is_road, guardable, name_ok, region_short)
    if _is_issuer(text):
        return ("issuer", "issuer", is_road, guardable, name_ok, region_short)

    # address decision (reference ocr.py:226-254): short bare digits without
    # a clear indicator stay unlabeled — short_digit ≡ guardable by def.
    if _is_addressish(text) and not (guardable and _CLEAR_RE.search(text) is None):
        addr = "address"
    else:
        addr = "O"

    if _is_date_component(text):
        # guard suppresses issue_date → falls through to the address test;
        # it can only apply to guardable tokens, so label_guarded = addr
        return ("issue_date", addr if guardable else "issue_date",
                is_road, guardable, name_ok, region_short)
    return (addr, addr, is_road, guardable, name_ok, region_short)


# distinct-token caches, split into flat structures so the hot path is a
# single C-level ``map(dict.__getitem__, tokens)`` with no per-token Python
# bytecode (round-3 verdict #5 — the label residual). The rare per-token
# flags live in sets: membership tests run only on the gated slow paths.
_LBL0: dict[str, str] = {}  # token → pass-1 label (no road guard)
_LBL1: dict[str, str] = {}  # token → pass-1 label when guard fires
_ROAD: set[str] = set()  # tokens containing a road keyword
_GUARDABLE: set[str] = set()  # ASCII digits, ≤2 chars (guard can fire)
_NAME_OK: set[str] = set()  # name-pattern match, not vetoed
_REGION_SHORT: set[str] = set()  # short region-keyword tokens (C3)
_TOKEN_CACHE_MAX = 1 << 20  # vocabulary-sized; cleared if adversarial input


def _fill_cache(tokens: list[str]) -> None:
    if len(_LBL0) >= _TOKEN_CACHE_MAX:
        for s in (_LBL0, _LBL1, _ROAD, _GUARDABLE, _NAME_OK, _REGION_SHORT):
            s.clear()
    for t in tokens:
        if t not in _LBL0:
            l0, l1, road, gd, nm, rg = _token_info(t)
            _LBL1[t] = l1
            if road:
                _ROAD.add(t)
            if gd:
                _GUARDABLE.add(t)
            if nm:
                _NAME_OK.add(t)
            if rg:
                _REGION_SHORT.add(t)
            _LBL0[t] = l0  # last: publishes the token as cached


def label_tokens(tokens: list[str]) -> list[str]:
    """Assign one label per token. Pure function: list[str] → list[str].

    Hot-loop structure: pass 1 is one C-level ``map`` over the label cache;
    the C4 road-guard fixup, the C2 anchor scan and the C3 neighbor relabel
    are entered only when their trigger token is present at all (road /
    document_title / issuer) — membership gates are C-level and the
    triggers appear only in record-bearing windows. Semantics are
    byte-identical to the sequential reference form (differential-tested
    against it)."""
    # pass 1: per-token classification (order-sensitive when/otherwise
    # chain, reference ocr.py:172-254) via the distinct-token cache; the C4
    # road guard (ocr.py:214-224) is the only cross-token term
    try:
        labels = list(map(_LBL0.__getitem__, tokens))
    except KeyError:
        _fill_cache(tokens)
        labels = list(map(_LBL0.__getitem__, tokens))
    lset = set(labels)
    if len(lset) <= 1 and (not lset or "O" in lset):
        # all-'O' window: a road token always classifies non-O (its road
        # keyword ⊆ ADDRESS_KEYWORDS makes it addressish, it is never
        # guardable, and date components are digit-only), so no guard fixup,
        # no anchors, no issuer — the labels are final
        return labels
    if not _ROAD.isdisjoint(tokens):  # some road token → sequential fixup
        prev_road = False
        for i, t in enumerate(tokens):
            if prev_road and t in _GUARDABLE:
                labels[i] = _LBL1[t]
            prev_road = t in _ROAD

    # pass 2: name inference between title and rrn anchors (C2) — gated by a
    # C-level membership test (most windows carry no title token)
    # (lset is pre-fixup, but valid for these gates: the guard rewrites only
    # guardable digit tokens to address/O — it can neither create nor remove
    # a title/rrn/issuer label)
    title_idx = (
        labels.index("document_title") if "document_title" in lset else None
    )
    if title_idx is not None:
        try:
            rrn_idx = labels.index("rrn", title_idx + 1)
        except ValueError:
            rrn_idx = None
        if rrn_idx is not None:
            if rrn_idx == title_idx + 2:
                k = title_idx + 1
                if tokens[k] in _NAME_OK and labels[k] not in (
                    "document_title", "rrn", "issuer",
                ):
                    labels[k] = "name"
            elif rrn_idx > title_idx + 1:
                for k in range(title_idx + 1, rrn_idx):
                    if labels[k] in ("O", "address", "issue_date") and tokens[k] in _NAME_OK:
                        if labels[k] == "address" and len(tokens[k]) > 5:
                            continue
                        labels[k] = "name"
                        break

    # pass 3: neighbor relabel (C3) — reads pre-pass label of the next
    # token; a no-op unless some issuer token exists (C-level gate)
    if "issuer" in lset:
        pre = list(labels)
        for j in range(len(labels) - 1):
            if (
                pre[j] in ("address", "O")
                and pre[j + 1] == "issuer"
                and tokens[j] in _REGION_SHORT
            ):
                labels[j] = "issuer"

    return labels


def _first_date(run: list[str]) -> str | None:
    """The first valid Y/M/D triple of an issue_date run chunked 3 at a
    time, as "Y.M.D" (D6). A token labeled issue_date is a bare-digit date
    component, so no single token or invalid chunk is a dotted triple, and
    the pivot's dotted-triple test (reference ocr.py:424-426) passes
    exactly these."""
    for j in range(0, len(run) - 2, 3):
        y, m, d = run[j : j + 3]
        if _YEAR.fullmatch(y) and _MONTH.fullmatch(m) and _DAY.fullmatch(d):
            return f"{y}.{m}.{d}"
    return None


def extract_fields(tokens: list[str]) -> dict[str, str | None]:
    """tokenized text → 6-field record (the full E3 stage).

    Run-merge (D5/D6) and first-wins pivot (D4) in one pass over the label
    runs (``itertools.groupby``, so an 'O' run is one C-level step): an
    address/issuer run joins with " ", an issue_date run yields its first
    valid Y.M.D triple, any other label's run yields its first token. A run
    whose field is already filled is skipped, and the pass stops once all
    six fields are filled."""
    labels = label_tokens(tokens)
    fields: dict[str, str | None] = dict.fromkeys(V.OUTPUT_FIELDS)
    unfilled = len(fields)
    end = 0
    for lab, grp in groupby(labels):
        start = end
        end += len(list(grp))
        if fields.get(lab, lab) is not None:  # 'O', or a field already filled
            continue
        if lab == "address" or lab == "issuer":
            fields[lab] = " ".join(tokens[start:end])
        elif lab == "issue_date":
            date = _first_date(tokens[start:end])
            if date is None:
                continue
            fields[lab] = date
        else:  # single-token labels: no merging to do
            fields[lab] = tokens[start]
        unfilled -= 1
        if not unfilled:
            break
    return fields
