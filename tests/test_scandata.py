"""scandata XML source (S5): semantics of scandata.py:23-150."""

from archive_pdf_tools_spark.sources.scandata import (
    parse_scandata, scandata_df)

XML = """<book>
  <bookData><dpi>300</dpi></bookData>
  <pageData>
    <page leafNum="0">
      <addToAccessFormats>false</addToAccessFormats>
      <pageType title="Cover" level="1"/>
    </page>
    <page leafNum="1">
      <addToAccessFormats>true</addToAccessFormats>
      <pageNumber>i</pageNumber><ppi>400</ppi>
    </page>
    <page leafNum="2">
      <pageNumber>ii</pageNumber>
      <pageType title="Title Page" level="2" label="T"/>
    </page>
    <page leafNum="3">
      <addToAccessFormats>false</addToAccessFormats>
    </page>
    <page leafNum="4">
      <pageNumber>1</pageNumber><ppi>not-a-number</ppi>
    </page>
  </pageData>
</book>"""


def test_parse_scandata_fields():
    m = parse_scandata(XML)
    assert m["skip_pages"] == [0, 3]
    assert m["page_numbers"] == ["i", "ii", "1"]
    assert m["dpi_per_page"] == [400, None, None]
    assert m["document_dpi"] == 300
    assert [t["title"] for t in m["toc"]] == ["Cover", "Title Page"]
    # accessible-page counts non-skipped pages seen before the entry
    assert m["toc"][0]["accessible_page"] == 0
    assert m["toc"][1]["accessible_page"] == 1
    assert m["toc"][1]["label"] == "T"
    assert m["toc"][1]["leaf"] == "2"


def test_parse_scandata_bad_doc_dpi():
    xml = XML.replace("<dpi>300</dpi>", "<dpi>high</dpi>")
    assert parse_scandata(xml)["document_dpi"] is None


def test_scandata_df(spark):
    df = spark.createDataFrame([("d1", XML)],
                               "doc_id string, scandata_xml string")
    row = scandata_df(df).head()
    assert row["skip_pages"] == [0, 3]
    assert row["document_dpi"] == 300
    assert row["toc"][1]["title"] == "Title Page"


def test_scandata_df_poison_row(spark):
    """One malformed XML row gives one error row of nulls; the good
    rows beside it are unchanged."""
    good = [("d1", XML), ("d2", XML.replace("<dpi>300</dpi>",
                                            "<dpi>600</dpi>"))]
    schema = "doc_id string, scandata_xml string"
    df = spark.createDataFrame(
        [good[0], ("bad", "<book><pageData>"), good[1]],
        schema).repartition(1)
    got = {r["doc_id"]: r for r in scandata_df(df).collect()}
    want = {r["doc_id"]: r for r in scandata_df(
        spark.createDataFrame(good, schema)).collect()}
    bad = got.pop("bad")
    assert bad["error"].startswith("ParseError: no element found")
    assert bad["skip_pages"] is None and bad["toc"] is None
    assert got == want
    assert [want[d]["document_dpi"] for d in ("d1", "d2")] == [300, 600]
    assert all(r["error"] is None for r in want.values())
