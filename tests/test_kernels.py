"""E1 decode/strip + E2 segmentation + PDF kernels."""

import importlib
import sys
import zipfile
import zipimport
import zlib

import pyarrow as pa
import pytest

from py_image_toolkit_spark.kernels.normalize import decode_html, strip_noncontent
from py_image_toolkit_spark.kernels.segment import (
    extract_pdf_blocks,
    segment_html,
    ws_collapse,
)


def test_decode_bom():
    r = decode_html(b"\xef\xbb\xbfhello")
    assert r.success and r.encoding == "utf-8-sig" and r.text == "hello"


def test_decode_declared_euckr():
    html = '<meta charset="euc-kr"><p>한글</p>'.encode("euc-kr")
    r = decode_html(html)
    assert r.success and r.encoding == "euc-kr" and "한글" in r.text


def test_decode_mismatched_meta_falls_back():
    # body is euc-kr but meta claims utf-8 → strict utf-8 fails → replace
    html = '<meta charset="utf-8"><p>한글</p>'.encode("euc-kr")
    r = decode_html(html)
    assert r.success and r.encoding == "utf-8/replace" and "�" in r.text


def test_decode_empty_is_typed_failure():
    assert not decode_html(b"").success
    assert not decode_html(None).success


def test_strip_noncontent():
    s = strip_noncontent(
        "<script>var x=1</script>a<style>p{}</style>b<!-- c -->d<script>open"
    )
    assert s == "abd"


def test_ws_collapse():
    assert ws_collapse("  a\t\nb   c ") == "a b c"


def test_segment_blocks_and_link_density():
    html = (
        "<body><nav><a href='/'>home</a> <a href='/x'>news</a></nav>"
        "<article>real content here</article>"
        "<p>para <a href='y'>link</a> tail</p></body>"
    )
    blocks = segment_html(html)
    texts = [b["text"] for b in blocks]
    assert "real content here" in texts
    nav = next(b for b in blocks if b["text"] == "home news")
    assert nav["n_link_chars"] == len("home") + len("news")
    p = next(b for b in blocks if b["text"].startswith("para"))
    assert p["n_link_chars"] == len("link")


def test_segment_malformed_never_raises():
    assert isinstance(segment_html("<div><p>a</div>< broken <<"), list)
    assert segment_html("") == []


def test_segment_nested_attribution():
    blocks = segment_html("<div>aa<p>bb</p>cc</div>")
    assert [(b["tag"], b["text"]) for b in blocks] == [
        ("div", "aa"), ("p", "bb"), ("div", "cc")
    ]


def test_pdf_plain_and_flate():
    body = b"BT (hello \\(world\\)) Tj ET\nBT (second) Tj ET"
    pdf = b"%PDF-1.4\n" + body + b"\n%%EOF"
    blocks = extract_pdf_blocks(pdf)
    assert [b["text"] for b in blocks] == ["hello (world)", "second"]

    stream = zlib.compress(b"BT (compressed text) Tj ET")
    pdf2 = (b"%PDF-1.4\n2 0 obj << /Filter /FlateDecode >>\nstream\n"
            + stream + b"\nendstream\n%%EOF")
    assert [b["text"] for b in extract_pdf_blocks(pdf2)] == ["compressed text"]


def test_blocks_are_disjoint_on_canvas():
    """B3 (NMS/overlap-dedup) is moot BY CONSTRUCTION: the virtual-canvas
    layout assigns each block a contiguous line range [start_line,
    start_line + n_lines) followed by one separator line, so block boxes can
    never overlap — this property test checks the invariant instead of
    assuming it (round-1 VERDICT item 9)."""
    from py_image_toolkit_spark.config import ExtractConfig
    from py_image_toolkit_spark.fixtures import page_row
    from py_image_toolkit_spark.oracle.extractor import layout_blocks
    from py_image_toolkit_spark.kernels.normalize import decode_html, strip_noncontent
    from py_image_toolkit_spark.kernels.segment import PDF_MAGIC, extract_pdf_blocks, segment_html

    checked = 0
    for mode in ("aspect", "fixed", "none"):
        for row in map(page_row, range(60)):
            html = bytes(row["html"])
            dec = decode_html(html)
            if not dec.success:
                continue
            raw = (extract_pdf_blocks(html) if html.startswith(PDF_MAGIC)
                   else segment_html(strip_noncontent(dec.text)))
            laid, canvas_w, canvas_h = layout_blocks(raw, ExtractConfig().wrap_width, mode)
            prev_end = -1
            for b in laid:
                assert b.start_line > prev_end, (mode, b.block_id)
                assert b.n_lines >= 1 and b.max_w <= canvas_w
                prev_end = b.start_line + b.n_lines - 1
                checked += 1
            if laid:
                assert canvas_h == prev_end + 2  # trailing separator line
    assert checked > 100  # non-vacuous across modes


def test_segment_fast_path_differential_corpus():
    """The fast scanner's dispatcher output must equal the stdlib parser on
    EVERY fixture document (all encodings, records, junk variants) — the
    fast path is a perf rewrite, not a semantic fork."""
    from py_image_toolkit_spark.fixtures import page_row
    from py_image_toolkit_spark.kernels.normalize import decode_html, strip_noncontent
    from py_image_toolkit_spark.kernels.segment import (
        PDF_MAGIC,
        _segment_html_stdlib,
        segment_html,
    )

    n_fast = 0
    for i in range(1500):
        r = page_row(i)
        if r["html"] is None or bytes(r["html"]).startswith(PDF_MAGIC):
            continue
        dec = decode_html(bytes(r["html"]))
        if not dec.success:
            continue
        s = strip_noncontent(dec.text)
        got = segment_html(s)
        ref = _segment_html_stdlib(s)
        assert got == ref, f"divergence at doc {i}"
        from py_image_toolkit_spark.kernels.segment import _segment_html_fast

        if _segment_html_fast(s) is not None:
            n_fast += 1
    # the fast path must actually cover the bulk of the corpus
    assert n_fast > 1000


def test_segment_fast_path_differential_fuzz():
    """Adversarial soup: random tag fragments, entities, quotes, '<!',
    truncations — whatever path the dispatcher takes, output equals the
    stdlib parser (fallback correctness is part of the contract)."""
    import random

    from py_image_toolkit_spark.kernels.segment import (
        _segment_html_stdlib,
        segment_html,
    )

    rng = random.Random(23)
    atoms = [
        "<p>", "</p>", "<div>", "</div>", "<a href='x'>", "<a>", "</a>",
        "<br>", "<br/>", "<br />", "text ", "&amp;", "&#65;", "&bogus;",
        "< notag", "<!doctype html>", "<!-- c -->", "<x-y>", "</x-y>",
        "<a b=c>", "<a b=\"c>d\">", "<a b='it", "'s>", "<p", ">", "plain<",
        "<A HREF=Z>", "</A>", "&lt;p&gt;", "\n", "  ", "<em>i</em>",
        "<li>item</li>", "<td>c</td>", "<h1>t</h1>", "<p/>", "<div/>",
        # link-heavy: nesting, stray close, <br> inside a link, empty link
        "<a><a>in</a>out</a>", "</a>", "<a>x<br>y</a>", "<a></a>",
        "<a href='z'> sp  aced </a>",
        # whitespace that \s and str.split() both treat as space
        "&nbsp;", "\t", "\x1c", "\x85", "\u3000", "a\u3000b", " \t\n ",
    ]
    for trial in range(600):
        s = "".join(rng.choice(atoms) for _ in range(rng.randrange(0, 25)))
        assert segment_html(s) == _segment_html_stdlib(s), f"trial {trial}: {s!r}"


def test_segment_fast_path_handles_entities_and_links():
    from py_image_toolkit_spark.kernels.segment import (
        _segment_html_fast,
        _segment_html_stdlib,
    )

    s = ("<body><p>Tom &amp; Jerry &#65; &lt;tag&gt;</p>"
         "<p><a href='/x'>link one</a> rest</p></body>")
    fast = _segment_html_fast(s)
    assert fast is not None  # must take the fast path
    assert fast == _segment_html_stdlib(s)
    assert fast[0]["text"] == "Tom & Jerry A <tag>"
    assert fast[1]["n_link_chars"] == len("link one")


def test_unescape_pdf_string_table():
    """Every escape of ``_PDF_ESCAPES``, an unknown escape (the backslash
    drops), a lone trailing backslash (kept) and bytes that are not UTF-8
    (replaced)."""
    from py_image_toolkit_spark.kernels.segment import _PDF_ESCAPES, _unescape_pdf_string

    cases = [
        (rb"(plain)", "plain"),
        (rb"()", ""),
        (rb"(a\nb)", "a\nb"),
        (rb"(a\rb)", "a\rb"),
        (rb"(a\tb)", "a\tb"),
        (rb"(a\bb)", "a\bb"),
        (rb"(a\fb)", "a\fb"),
        (rb"(a\(b\))", "a(b)"),
        (rb"(a\\b)", "a\\b"),
        (rb"(\\\\)", "\\\\"),
        (rb"(\9)", "9"),
        (rb"(x\q)", "xq"),
        (b"(a\\\nb)", "a\nb"),  # backslash + newline: the newline stays
        (rb"(abc\)", "abc\\"),
        (rb"(\)", "\\"),
        (b"(\xff\xfeok)", "\ufffd\ufffdok"),
        ("(한글)".encode("utf-8"), "한글"),
        (b"(\\\xff)", "\ufffd"),
    ]
    for key, value in _PDF_ESCAPES.items():
        cases.append((b"(\\" + key + b")", value.decode("latin-1")))
    for raw, want in cases:
        assert _unescape_pdf_string(raw) == want, raw


def test_pdf_scanners_match_their_regex_forms():
    """``_text_objects`` finds what the lazy ``BT(.*?)ET`` regex captures,
    and the unrolled ``_PAREN_RE`` what the plain alternation matches, on
    random soups of the bytes both grammars care about."""
    import random
    import re

    from py_image_toolkit_spark.kernels.segment import _PAREN_RE, _text_objects

    bt_et = re.compile(rb"BT(.*?)ET", re.DOTALL)
    paren = re.compile(rb"\((?:\\.|[^\\()])*\)", re.DOTALL)
    rng = random.Random(7)
    for _ in range(3000):
        s = bytes(rng.choice(b"BTE()\\x \n") for _ in range(rng.randrange(0, 40)))
        assert _text_objects(s) == [m.group(1) for m in bt_et.finditer(s)], s
        assert _PAREN_RE.findall(s) == [m.group(0) for m in paren.finditer(s)], s


def _run_dropping_zip_finders(tmp_path, task, batch):
    """Run ``task`` (a ``mapInArrow`` function) over ``batch`` with one
    cached zip finder, and check that the task ends with no cached zip
    finder and no cached archive directory, so the next task's
    ``importlib.invalidate_caches()`` re-reads no archive; a module in the
    evicted zip still imports. Returns the task's output batches."""
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_one_liner.py", "VALUE = 7\n")
    sys.path.append(archive)
    try:
        sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
        assert archive in zipimport._zip_directory_cache
        out = list(task(iter([batch])))
        assert archive not in sys.path_importer_cache
        assert archive not in zipimport._zip_directory_cache
        assert importlib.import_module("zipped_one_liner").VALUE == 7
        return out
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        sys.modules.pop("zipped_one_liner", None)


def _doc_batch_in():
    return pa.RecordBatch.from_pydict({
        "url": ["https://a.io/1"],
        "warc_ts": pa.array([None], pa.timestamp("us", tz="UTC")),
        "lang": ["en"],
        "html": [b"<html><body><p>hello there</p></body></html>"],
    })


def test_doc_kernel_task_drops_zip_finders(tmp_path):
    """A doc-kernel task drops the worker's zip finders when it ends."""
    from py_image_toolkit_spark.config import ExtractConfig
    from py_image_toolkit_spark.operators.doc_kernel import _make_doc_kernel

    out = _run_dropping_zip_finders(
        tmp_path, _make_doc_kernel(ExtractConfig()), _doc_batch_in()
    )
    assert sum(b.num_rows for b in out) == len(ExtractConfig().rules)


class _Task:
    """``TaskContext.get()`` outside a Spark task."""

    @staticmethod
    def get():
        return _Task()

    def partitionId(self):
        return 0

    def taskAttemptId(self):
        return 0


def _pages_stage(spark, tmp_path, monkeypatch):
    from py_image_toolkit_spark.fixtures import pages_df

    batch = pa.RecordBatch.from_pydict({"id": pa.array([0], pa.int64())})
    return lambda: pages_df(spark, 1, partitions=1), batch


def _warc_stage(spark, tmp_path, monkeypatch):
    from py_image_toolkit_spark.sources.warc import warc_records

    blobs = spark.createDataFrame([], "blob_id long, data binary")
    blob = b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort"  # a parse-error row
    batch = pa.RecordBatch.from_pydict({"blob_id": [1], "data": [blob]})
    return lambda: warc_records(blobs), batch


def _q17_stage(spark, tmp_path, monkeypatch):
    from py_image_toolkit_spark.operators.extract_fields import (
        extract_fields_from_tokens_kernel,
    )

    tokens = spark.createDataFrame([], "doc_id long, seq int, token string")
    batch = pa.RecordBatch.from_pydict(
        {"doc_id": pa.array([1], pa.int64()), "_toks": [["name", "kim"]]}
    )
    return lambda: extract_fields_from_tokens_kernel(tokens), batch


def _doc_write_stage(spark, tmp_path, monkeypatch):
    from py_image_toolkit_spark.operators import doc_kernel

    monkeypatch.setattr(doc_kernel, "TaskContext", _Task)
    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, lang string, html binary"
    )
    commit_dir = tmp_path / "commit"
    commit_dir.mkdir()
    return lambda: doc_kernel.doc_write_df(pages, str(commit_dir)), _doc_batch_in()


@pytest.mark.parametrize(
    "stage",
    [_pages_stage, _warc_stage, _q17_stage, _doc_write_stage],
    ids=["pages_df", "warc_records", "q17_token_kernel", "doc_write_df"],
)
def test_arrow_stage_task_drops_zip_finders(spark, tmp_path, monkeypatch, stage):
    """Every engine ``mapInArrow`` stage, not only the doc kernel's record
    sink, hands Spark a task function that drops the worker's zip finders
    when it ends. The function is captured from ``mapInArrow`` and run here
    on one batch of the stage's input."""
    build, batch = stage(spark, tmp_path, monkeypatch)
    captured = []
    monkeypatch.setattr(
        type(spark.range(0)), "mapInArrow",
        lambda self, fn, schema, *a, **kw: captured.append(fn),
    )
    build()
    (task,) = captured
    out = _run_dropping_zip_finders(tmp_path, task, batch)
    assert sum(b.num_rows for b in out) >= 1
