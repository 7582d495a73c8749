"""CSV source behavior on clean AND malformed input (reference
Utils.scala:14-25: bad lines are reported and dropped, quotes stripped,
text = title + ' ' + description + ' ' + manufacturer)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.sources.catalog_csv import (
    read_catalog_csv,
    read_gold_pairs_csv,
)


def test_permissive_csv_drops_corrupt_and_concats(spark, tmp_path):
    p = tmp_path / "catalog.csv"
    p.write_text(
        'id,title,description,manufacturer,price\n'
        'a1,"Adobe Photoshop","Photo editor","Adobe",49.99\n'
        'a2,"Word, The Processor","Does ""words""","MS",12.5\n'
        'this line is,not,valid,csv,at,all,extra,fields\n'
        'a3,"NoPrice","x","y",notanumber\n'
    )
    df = read_catalog_csv(spark, str(p))
    rows = {r["id"]: r for r in df.collect()}
    # corrupt line (too many fields) dropped; others kept
    assert set(rows) == {"a1", "a2", "a3"}
    assert rows["a1"]["text"] == "Adobe Photoshop Photo editor Adobe"
    assert rows["a1"]["price"] == 49.99
    # RFC-4180 quoted comma and doubled quotes survive parsing;
    # remaining quote chars are stripped like the reference does
    assert rows["a2"]["title"] == "Word, The Processor"
    assert rows["a2"]["description"] == "Does words"
    # unparseable price -> NULL, row kept
    assert rows["a3"]["price"] is None


def test_strict_reference_parse_mode(spark, tmp_path):
    p = tmp_path / "ref.csv"
    p.write_text(
        '"id","title","description","manufacturer","price"\n'
        'b001,"Title One",some desc,acme,10.0\n'
        'not a reference-shaped line\n'
    )
    df = read_catalog_csv(spark, str(p), strict_reference_parse=True)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["id"] == "b001"
    assert rows[0]["text"] == "Title One some desc acme"


def test_gold_pairs_reader(spark, tmp_path):
    p = tmp_path / "gold.csv"
    p.write_text('idAmazon,idGoogleBase\n"a1","g1"\na2,g2\n')
    df = read_gold_pairs_csv(spark, str(p))
    got = {(r["a_id"], r["b_id"]) for r in df.collect()}
    assert got == {("a1", "g1"), ("a2", "g2")}

