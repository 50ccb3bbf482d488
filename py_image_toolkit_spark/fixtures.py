"""Deterministic synthetic ``pages`` table (FIXTURES.md §2, seed=42).

Every row is a pure function of (seed, i) — generation is distributed via
``mapInArrow`` over ``spark.range`` and reproducible regardless of
partitioning; ``warc_ts`` is a UTC instant. No external data (graft
directive).

Mix per 100 docs: 88 HTML (5 encoding variants, ~40% embedding Korean
document-record token sequences incl. the verified reference quirks),
7 PDF (our own minimal writer, some Flate-compressed), 5 junk/malformed
(empty, null, truncated, binary garbage, script-only) to exercise the J6
error-status path. ~20% of rows share one hot host (skew for salting tests).
"""

from __future__ import annotations

import random
import zlib
from collections.abc import Iterator
from datetime import datetime, timedelta

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from py_image_toolkit_spark.session import arrow_task

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(PAGES_SCHEMA)

_EN_VOCAB = (
    "the quick brown fox jumps over lazy dog while autumn rain settles across "
    "the harbor and distant trains carry grain toward northern markets where "
    "merchants trade stories about winter roads and bright summer festivals"
).split()

_KO_FILLER = "안내 사항 확인 바랍니다 문의 전화 민원 접수 창구 운영 시간".split()

# record ingredients — names chosen so veto behavior is exercised:
# 홍길동 contains 동/길 (vetoed → stays address), others are veto-clean.
_NAMES_CLEAN = ("김첨지", "박영수", "이순신", "최무선", "강감찬")
_NAME_VETOED = "홍길동"
_TITLES = ("주민등록증", "운전면허증", "공무원증", "여권")
_RRNS = ("123456-1234567", "654321-7654321", "9901011234567", "880505-1122334")
_ADDRESSES = (
    "서울특별시 종로구 수표로 12",
    "부산광역시 해운대구 우동 123-456",
    "경기도 수원시 팔달구 정조로 777",
    "대전광역시 서구 둔산동 100호",
)
_ISSUERS = ("종로구청장", "서울특별시장", "부산경찰서장", "수원교육감")
_REGION_PREFIX = ("서울특별시", "부산광역시", "경기도")
_DATES_OK = (("2021", "03", "05"), ("1999", "12", "31"), ("2020", "1", "9"))
_DATE_SHORT = ("2021", "07")  # 2-token date → dropped from pivot (quirk)


def _filler(rng: random.Random, n_words: int, ko: bool = False) -> str:
    vocab = _KO_FILLER if ko else _EN_VOCAB
    return " ".join(rng.choice(vocab) for _ in range(n_words))


def _record_tokens(rng: random.Random) -> str:
    """A Korean document-record token sequence (E3 golden material)."""
    title = rng.choice(_TITLES)
    variant = rng.randrange(7)
    rrn = rng.choice(_RRNS)
    addr = rng.choice(_ADDRESSES)
    date = rng.choice(_DATES_OK)
    issuer = rng.choice(_ISSUERS)
    if variant == 0:  # happy path: fast-path name inference
        parts = [title, rng.choice(_NAMES_CLEAN), rrn, addr, *date, issuer]
    elif variant == 1:  # veto quirk: name ends in 동 → labeled address
        parts = [title, _NAME_VETOED, rrn, addr, *date, issuer]
    elif variant == 2:  # greedy-first quirk: filler token wins name scan
        parts = [title, "부가정보", rng.choice(_NAMES_CLEAN), rrn, addr, *date, issuer]
    elif variant == 3:  # 2-token date → issue_date dropped in pivot
        parts = [title, rng.choice(_NAMES_CLEAN), rrn, addr, *_DATE_SHORT, issuer]
    elif variant == 4:  # region + issuer run (C3 neighbor relabel + D5 merge)
        parts = [title, rng.choice(_NAMES_CLEAN), rrn, addr, *date,
                 rng.choice(_REGION_PREFIX), issuer]
    elif variant == 5:  # no rrn → no name inference
        parts = [title, rng.choice(_NAMES_CLEAN), addr, *date, issuer]
    else:  # non-ASCII-digit token: '１２호' must stay 'O' — pins the
        # deliberate ASCII-digit dialect (Java rlike \d vs Python re) that
        # the Python labeling and the Column labeling (q15-q17) share
        parts = [title, rng.choice(_NAMES_CLEAN), rrn, addr, "１２호", *date, issuer]
    return " ".join(parts)


def _html_doc(rng: random.Random, i: int) -> tuple[bytes, str | None, str]:
    has_record = rng.random() < 0.4
    record = _record_tokens(rng) + " " if has_record else ""
    article = record + _filler(rng, rng.randrange(60, 220))
    nav_links = " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.sample(_EN_VOCAB, 5)
    )
    ad_links = " ".join(
        f'<a href="/ad{k}">buy {rng.choice(_EN_VOCAB)} now</a>' for k in range(3)
    )
    enc_variant = i % 5
    meta = {
        0: '<meta charset="utf-8">',
        1: '<meta charset="utf-8">',       # served with a BOM
        2: '<meta charset="euc-kr">',
        3: '<meta charset="utf-8">',       # LIES: body is euc-kr (mismatch case)
        4: "",                              # no declaration
    }[enc_variant]
    html = (
        f"<!DOCTYPE html><html><head>{meta}<title>Page {i}</title>"
        "<style>body{margin:0}</style><script>var x=1;</script></head><body>"
        f"<header><nav>{nav_links}</nav></header>"
        f'<div class="ads">{ad_links}</div>'
        f"<article>{article}</article>"
        f"<aside>{ad_links}</aside>"
        f"<footer>copyright {1990 + i % 30} <a href='/terms'>terms</a></footer>"
        "</body></html>"
    )
    if enc_variant == 1:
        data = b"\xef\xbb\xbf" + html.encode("utf-8")
    elif enc_variant in (2, 3):
        data = html.encode("euc-kr", errors="replace")
    else:
        data = html.encode("utf-8")
    lang = "ko" if has_record else "en"
    return data, article, lang


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _pdf_doc(rng: random.Random, i: int) -> tuple[bytes, str | None, str]:
    paras = [_filler(rng, rng.randrange(25, 70)) for _ in range(rng.randrange(2, 5))]
    if rng.random() < 0.3:
        paras.insert(0, _record_tokens(rng))
    body = "\n".join(f"BT ({_pdf_escape(p)}) Tj ET" for p in paras).encode("utf-8")
    if i % 2 == 0:
        stream = zlib.compress(body)
        filt = b"/Filter /FlateDecode "
    else:
        stream = body
        filt = b""
    data = (
        b"%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n"
        b"2 0 obj << " + filt + b"/Length " + str(len(stream)).encode() + b" >>\n"
        b"stream\n" + stream + b"\nendstream\nendobj\n%%EOF\n"
    )
    return data, None, "en"


def _junk_doc(rng: random.Random, i: int) -> tuple[bytes | None, str | None, str]:
    variant = i % 5
    if variant == 0:
        return b"", None, "und"
    if variant == 1:
        return None, None, "und"
    if variant == 2:  # truncated mid-tag
        return b"<html><body><article>cut off mid <a hre", None, "und"
    if variant == 3:  # binary garbage (invalid utf-8, no tags)
        return bytes(rng.randrange(128, 256) for _ in range(64)), None, "und"
    return b"<html><script>only script, no content", None, "und"


def page_row(i: int, seed: int = 42) -> dict:
    rng = random.Random(seed * 1_000_003 + i)
    host = "host-0.example" if rng.random() < 0.2 else f"host-{1 + rng.randrange(199)}.example"
    url = f"https://{host}/p/{i:08d}"
    kind = i % 100
    if kind < 88:
        html, text, lang = _html_doc(rng, i)
    elif kind < 95:
        html, text, lang = _pdf_doc(rng, i)
    else:
        html, text, lang = _junk_doc(rng, i)
    return {
        "url": url,
        "warc_ts": datetime(2024, 1, 1) + timedelta(seconds=i * 37),
        "html": html,
        "text": text,
        "lang": lang,
    }


def pages_df(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation (scales to bench sizes without
    driver materialization)."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield pa.RecordBatch.from_pylist(
                [page_row(i, seed) for i in batch.column("id").to_pylist()],
                schema=_ARROW_SCHEMA,
            )

    return spark.range(0, n, numPartitions=parts).mapInArrow(
        arrow_task(gen), PAGES_SCHEMA
    )
