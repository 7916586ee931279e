"""hOCR parser (S4): round-trip parity with the JSON payload path,
streaming iteration, title-property edge cases, and the Spark front
door feeding the extraction pipeline."""

import json

import pytest

from archive_pdf_tools_spark.corpus.hocrgen import hocr_from_pages, synth_hocr
from archive_pdf_tools_spark.sources.hocr import (
    iter_pages, page_dimensions, page_payload, page_scan_res,
    page_word_data, parse_properties)
from archive_pdf_tools_spark.sources.spans_from_text import layout_text

PROSE = ("the quick brown fox jumps over the lazy dog and keeps running "
         "through fields of wheat while the sun sets slowly behind hills ")


def test_title_property_parsing():
    props = parse_properties(
        'image "x 1.jp2"; bbox 0 0 2560 3264; ppageno 7; scan_res 300 300')
    assert props["image"] == ["x 1.jp2"]
    assert props["bbox"] == ["0", "0", "2560", "3264"]
    assert props["scan_res"] == ["300", "300"]
    assert parse_properties(None) == {}
    assert parse_properties("bbox 1 2 3") == {"bbox": ["1", "2", "3"]}


def test_payload_roundtrip_exact():
    """parse(render(payload)) == payload, byte-for-byte JSON, including
    words that need XML escaping."""
    texts = [" ".join(PROSE.split()[:words]) for words in (1, 7, 8, 9, 50)]
    texts.append("fish&chips <b> a>b&lt; R&D")
    for text in texts:
        payload = layout_text(text)
        markup = hocr_from_pages([payload])
        pages = list(iter_pages(markup))
        assert len(pages) == 1
        assert page_payload(pages[0], 300) == payload


def test_multi_page_streaming():
    markup = synth_hocr(PROSE * 20, words_per_page=80)  # 420 -> cap 400
    n_words_total = 0
    dims = []
    for page in iter_pages(markup):
        wd = page_word_data(page)
        n_words_total += sum(len(ln["words"])
                             for para in wd for ln in para["lines"])
        dims.append(page_dimensions(page))
    assert len(dims) == 5                      # 400 words / 80 per page
    assert n_words_total == 400
    assert all(w == 1000 for w, _h in dims)


def test_gzipped_hocr_transparent():
    """The archival item ships hOCR as ``*_hocr.html.gz``: gzipped
    markup streams identically to plain markup (magic-sniffed,
    inflated incrementally alongside the parse)."""
    import gzip
    import json

    from archive_pdf_tools_spark.sources.hocr import page_payload

    markup = synth_hocr(PROSE * 20, words_per_page=80)
    plain = [json.dumps(page_payload(p), sort_keys=True)
             for p in iter_pages(markup)]
    raw = markup.encode("utf-8") if isinstance(markup, str) else markup
    zipped = [json.dumps(page_payload(p), sort_keys=True)
              for p in iter_pages(gzip.compress(raw))]
    assert plain == zipped and len(plain) == 5


def test_scan_res_and_dimensions():
    payload = json.loads(layout_text("alpha beta"))
    payload["page"]["scan_res"] = 240
    markup = hocr_from_pages([json.dumps(payload, sort_keys=True)])
    page = next(iter_pages(markup))
    assert page_scan_res(page) == 240
    assert page_dimensions(page) == (1000, payload["page"]["h"])


def test_fontsize_fallback_and_direction():
    markup = """<?xml version="1.0" encoding="UTF-8"?>
<html xmlns="http://www.w3.org/1999/xhtml"><body>
<div class="ocr_page" title="bbox 0 0 800 600">
 <div class="ocr_carea">
  <p class="ocr_par" dir="rtl">
   <span class="ocr_line" title="bbox 10 10 300 40; baseline 0.01 -2; x_size 28">
     <span class="ocrx_word" title="bbox 10 10 80 40; x_wconf 91">aleph</span>
     <span class="ocrx_word" title="bbox 90 10 160 40; x_wconf 88; x_fsize 12" dir="ltr">two</span>
   </span>
  </p>
 </div>
</div></body></html>"""
    page = next(iter_pages(markup))
    (para,) = page_word_data(page)
    (line,) = para["lines"]
    w0, w1 = line["words"]
    assert w0["fontsize"] == 28.0           # x_size fallback from the line
    assert w0["writing_direction"] == 2     # inherited rtl
    assert w1["fontsize"] == 12.0           # own x_fsize wins
    assert w1["writing_direction"] == 1     # own dir wins
    assert line["baseline"] == [0.01, -2.0]
    assert w0["confidence"] == 91.0


def test_orphan_lines_and_skipped_junk():
    markup = """<html><body>
<div class="ocr_page" title="bbox 0 0 400 300">
  <span class="ocr_line" title="bbox 5 5 100 25">
    <span class="ocrx_word" title="bbox 5 5 50 25">lonely</span></span>
  <span class="ocr_line" title="nonsense here">
    <span class="ocrx_word" title="bbox 5 30 50 50">dropped-line</span></span>
  <span class="ocr_line" title="bbox 5 60 100 80"></span>
</div></body></html>"""
    page = next(iter_pages(markup))
    wd = page_word_data(page)
    assert len(wd) == 1                     # one synthetic paragraph
    assert [w["text"] for w in wd[0]["lines"][0]["words"]] == ["lonely"]
    assert len(wd[0]["lines"]) == 1         # bad-bbox + empty lines dropped


def test_nested_markup_inside_words():
    markup = """<html><body>
<div class="ocr_page" title="bbox 0 0 400 300">
 <p class="ocr_par"><span class="ocr_line" title="bbox 1 1 99 21">
   <span class="ocrx_word" title="bbox 1 1 50 21"><strong>bo</strong>ld</span>
 </span></p>
</div></body></html>"""
    page = next(iter_pages(markup))
    wd = page_word_data(page)
    assert wd[0]["lines"][0]["words"][0]["text"] == "bold"


@pytest.mark.usefixtures("spark")
def test_hocr_documents_feed_extraction(spark):
    """The hOCR front door produces byte-identical extraction output to
    the JSON-payload path on the same synthetic pages."""
    import pandas as pd

    from archive_pdf_tools_spark.operators.extract import OUTPUT_SCHEMA_DDL
    from archive_pdf_tools_spark.plans import run_extraction
    from archive_pdf_tools_spark.sources.hocr import hocr_documents

    texts = {f"doc_{i:03d}": " ".join((PROSE * (i + 1)).split()[: 30 * (i + 1)])
             for i in range(6)}

    hdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts),
                      "hocr": [synth_hocr(t, words_per_page=400)
                               for t in texts.values()]}))
    via_hocr = run_extraction(hocr_documents(hdf), with_metrics=False)[0]

    jdf = spark.createDataFrame(
        [(doc_id, [("text", layout_text(t), "", 0)])
         for doc_id, t in texts.items()], OUTPUT_SCHEMA_DDL)
    via_json = run_extraction(jdf, with_metrics=False)[0]

    a = {r["doc_id"]: r["spans"] for r in via_hocr.collect()}
    b = {r["doc_id"]: r["spans"] for r in via_json.collect()}
    assert a == b and len(a) == 6
    assert any(len(v) > 0 for v in a.values())


def test_malformed_markup_survives(spark):
    import pandas as pd

    from archive_pdf_tools_spark.sources.hocr import hocr_documents

    hdf = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["ok", "broken"],
        "hocr": [synth_hocr("fine text here"), "<html><body><div"]}))
    out = {r["doc_id"]: r["spans"] for r in hocr_documents(hdf).collect()}
    assert out["ok"] and out["ok"][0]["kind"] == "text"
    assert out["broken"][0]["kind"] == "hocr_error"


def test_dpi_column_reaches_the_payload(spark):
    """``dpi_col`` sets every page payload's ``dpi``: 300 where the row
    has 300, null where the row's dpi is null."""
    from archive_pdf_tools_spark.sources.hocr import hocr_documents

    markup = synth_hocr(PROSE, words_per_page=20)
    hdf = spark.createDataFrame(
        [("at300", markup, 300), ("nodpi", markup, None)],
        "doc_id string, hocr string, dpi int")
    out = {r["doc_id"]: [json.loads(s["text"])["page"]["dpi"]
                         for s in r["spans"]]
           for r in hocr_documents(hdf, dpi_col="dpi").collect()}
    n_pages = len(list(iter_pages(markup)))
    assert n_pages >= 1
    assert out == {"at300": [300] * n_pages, "nodpi": [None] * n_pages}


def test_markup_truncated_mid_stream_keeps_parsed_pages(spark):
    """Markup that breaks after its first page gives that page's span,
    exactly as the whole document gives it, then one hocr_error span
    naming the parse error."""
    import pandas as pd

    from archive_pdf_tools_spark.sources.hocr import hocr_documents

    markup = synth_hocr(" ".join(f"w{i}" for i in range(40)),
                        words_per_page=20)
    first = markup.index("<div class='ocr_page'")
    cut = markup.index("<div class='ocr_page'", first + 1)
    hdf = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["whole", "cut"], "hocr": [markup, markup[:cut]]}))
    out = {r["doc_id"]: r["spans"] for r in hocr_documents(hdf).collect()}
    assert [s["kind"] for s in out["whole"]] == ["text", "text"]
    assert [s["kind"] for s in out["cut"]] == ["text", "hocr_error"]
    assert out["cut"][0] == out["whole"][0]
    assert out["cut"][1]["text"].startswith("ParseError: ")
    assert out["cut"][1]["offset"] == 1


def test_hocr_roundtrip_fuzz():
    """Property: parse(render(payload)) == payload for randomized page
    structures — weird word text (XML-escapables, unicode), float
    baselines, RTL flags, multi-paragraph pages."""
    import json

    from hypothesis import given, settings, strategies as st

    word_text = st.text(
        alphabet=st.characters(
            codec="utf-8",
            exclude_categories=("Cs", "Cc", "Zs", "Zl", "Zp"),
        ).filter(lambda c: not c.isspace()),
        min_size=1, max_size=8)

    def word(x0, y0):
        return st.fixed_dictionaries({
            "text": word_text,
            "bbox": st.just([x0, y0, x0 + 30, y0 + 12]),
            "confidence": st.floats(0, 100).map(lambda v: round(v, 1)),
            "fontsize": st.floats(4, 40).map(lambda v: round(v, 2)),
            "writing_direction": st.sampled_from([0, 1, 2]),
        })

    def line(y0):
        return st.builds(
            lambda ws, slope, const: {
                "bbox": [5, y0, 400, y0 + 14],
                "baseline": [round(slope, 4), round(const, 2)],
                "words": [dict(w, bbox=[5 + 40 * i, y0, 35 + 40 * i,
                                        y0 + 12])
                          for i, w in enumerate(ws)],
            },
            st.lists(word(5, y0), min_size=1, max_size=4),
            st.floats(-0.05, 0.05), st.floats(-5, 5))

    page = st.builds(
        lambda paras: {
            "page": {"w": 500, "h": 40 + 20 * sum(len(p) for p in paras),
                     "dpi": None, "scan_res": None},
            "paragraphs": [
                {"lines": [dict(ln, bbox=[5, 20 * j, 400, 20 * j + 14])
                           for j, ln in enumerate(p)]} for p in paras
                if p],
        },
        st.lists(st.lists(line(0), min_size=0, max_size=3),
                 min_size=1, max_size=3))

    from archive_pdf_tools_spark.corpus.hocrgen import hocr_from_pages
    from archive_pdf_tools_spark.sources.hocr import iter_pages, page_payload

    @settings(max_examples=60, deadline=None)
    @given(page)
    def check(payload):
        # drop empty paragraphs the same way the builder does
        payload["paragraphs"] = [p for p in payload["paragraphs"]
                                 if p["lines"]]
        blob = json.dumps(payload, ensure_ascii=False, sort_keys=True)
        markup = hocr_from_pages([blob])
        pages = list(iter_pages(markup))
        assert len(pages) == 1
        assert page_payload(pages[0], None) == blob

    check()


def test_parse_properties_quoted_semicolon():
    from archive_pdf_tools_spark.sources.hocr import parse_properties

    props = parse_properties('image "a;b.jp2"; bbox 0 0 10 10')
    assert props["image"] == ["a;b.jp2"]
    assert props["bbox"] == ["0", "0", "10", "10"]
    # a hostile filename must not inject a bogus property
    props = parse_properties('image "x;bbox 1 2 3 4.jp2"; ppageno 2')
    assert props["image"] == ["x;bbox 1 2 3 4.jp2"]
    assert props["ppageno"] == ["2"]
    assert props.get("bbox") is None


def test_page_word_data_single_pass_semantics():
    """The r10 single-DFS page_word_data must keep the old multi-pass
    semantics exactly: a line nested under several ocr_par ancestors is
    recorded once per ancestor with THAT par's dir fallback, paragraph
    order is par document order, and par-less lines form one trailing
    orphan paragraph (page-dir fallback)."""
    from archive_pdf_tools_spark.sources.hocr import (iter_pages,
                                                      page_word_data)

    markup = """<html><body>
    <div class='ocr_page' title='bbox 0 0 1000 800'>
     <div class='ocr_carea'>
      <p class='ocr_par' dir='rtl' title=''>
       <span class='ocr_line' title='bbox 10 10 400 40; baseline 0.01 -2; x_size 24'>
         <span class='ocrx_word' title='bbox 10 10 100 40; x_wconf 93'>alpha</span>
       </span>
       <p class='ocr_par'>
         <span class='ocr_header' title='bbox 10 50 300 80'>
           <span class='ocrx_word' title='bbox 10 50 90 80; x_wconf 71'>gamma</span>
         </span>
       </p>
      </p>
     </div>
     <span class='ocr_line' title='bbox 5 700 900 740; baseline 0 0'>
       <span class='ocrx_word' dir='ltr' title='bbox 5 700 60 740'>orphan</span>
     </span>
    </div></body></html>"""
    (page,) = iter_pages(markup)
    paras = page_word_data(page)
    assert len(paras) == 3
    outer, inner, orphans = paras
    # outer par: its own line plus the nested par's line, rtl fallback
    assert [w["text"] for ln in outer["lines"] for w in ln["words"]] \
        == ["alpha", "gamma"]
    assert outer["lines"][1]["words"][0]["writing_direction"] == 2
    # inner par re-records gamma with ITS dir fallback (unspecified)
    assert [w["text"] for ln in inner["lines"] for w in ln["words"]] \
        == ["gamma"]
    assert inner["lines"][0]["words"][0]["writing_direction"] == 0
    # orphan line trails, word-level dir attr wins
    assert [w["text"] for ln in orphans["lines"] for w in ln["words"]] \
        == ["orphan"]
    assert orphans["lines"][0]["words"][0]["writing_direction"] == 1
