"""EL candidate dictionary at breadth (functions/el_dict.py) + the
open-vocabulary backstop (operators/linking.py)."""

from pikes_spark.functions import el_dict
from pikes_spark.functions.resources import EL_CANDIDATES


def _pages_df(spark, rows):
    from pyspark.sql import functions as F
    from pikes_spark.sources.pages import html_col
    df = spark.createDataFrame(rows, "url string, text string")
    return df.select(
        "url", F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        html_col(F.col("text")).alias("html"), "text",
        F.lit("en").alias("lang"))


def test_parse_el_tsv_normalizes_priors():
    d = el_dict.parse_el_tsv(
        "Jordan\thttp://dbpedia.org/resource/Jordan\t60\n"
        "jordan\thttp://dbpedia.org/resource/Michael_Jordan\t40\n"
        "bad-line\n"
        "zero\thttp://dbpedia.org/resource/Zero\t0\n")
    assert "zero" not in d
    rows = dict(d["jordan"])
    assert abs(rows["http://dbpedia.org/resource/Jordan"] - 0.95 * 0.6) < 1e-9
    assert abs(rows["http://dbpedia.org/resource/Michael_Jordan"]
               - 0.95 * 0.4) < 1e-9


def test_merged_layers_fixture_first():
    merged = el_dict.el_candidates()
    # fixture surfaces keep their exact fixture rows (gold stability)
    for surface in ("bush", "paris", "europe"):
        assert merged[surface] == EL_CANDIDATES[surface]
    # base dictionary adds out-of-fixture breadth
    assert merged["brazil"][0][0] == "http://dbpedia.org/resource/Brazil"
    assert merged["donald trump"][0][0] == \
        "http://dbpedia.org/resource/Donald_Trump"
    # ambiguous out-of-fixture surface carries >1 candidate
    assert len(merged["washington"]) >= 2


def test_deployment_file_layer(tmp_path, monkeypatch):
    f = tmp_path / "el_candidates.tsv"
    f.write_text("zzzcorp\thttp://dbpedia.org/resource/ZZZ_Corp\t10\n"
                 "brazil\thttp://dbpedia.org/resource/Wrong_Brazil\t10\n")
    monkeypatch.setenv("PIKES_EL_DICT", str(f))
    el_dict.reset_el_cache()
    try:
        merged = el_dict.el_candidates()
        assert merged["zzzcorp"][0][0] == \
            "http://dbpedia.org/resource/ZZZ_Corp"
        # earlier layers win per surface: bundled Brazil row stays
        assert merged["brazil"][0][0] == "http://dbpedia.org/resource/Brazil"
    finally:
        monkeypatch.delenv("PIKES_EL_DICT")
        el_dict.reset_el_cache()


def test_out_of_fixture_ambiguity_argmax(spark):
    """Context scoring disambiguates a surface that exists only in the
    bundled base dictionary: 'New York' next to 'city' tokens."""
    from pikes_spark.operators.annotate import annotate_pages
    from pikes_spark.operators.linking import candidates_df, link_entities
    
    pages = _pages_df(spark, [
        ("http://e/x1", "The mayor praised New York City officials.")])
    links = link_entities(annotate_pages(pages), candidates_df(spark)) \
        .collect()
    uris = {r["uri"] for r in links}
    assert "http://dbpedia.org/resource/New_York_City" in uris


def test_open_vocab_backstop_mints_dbr(spark):
    from pikes_spark.operators.annotate import annotate_pages
    from pikes_spark.operators.linking import candidates_df, link_entities
    
    pages = _pages_df(spark, [
        ("http://e/ov1", "Zorblat Industries announced a merger with "
                         "Quuxtech Holdings yesterday.")])
    ann = annotate_pages(pages)
    closed = link_entities(ann, candidates_df(spark)).collect()
    opened = link_entities(ann, candidates_df(spark), open_vocab=True) \
        .collect()
    minted = {r["uri"] for r in opened} - {r["uri"] for r in closed}
    assert any(u.startswith("http://dbpedia.org/resource/Zorblat")
               for u in minted)
    # minted candidates never outrank dictionary hits on the same span
    assert all(r["score"] <= 0.15 + 1e-9 for r in opened
               if r["uri"] in minted)


def test_empty_context_candidate_scores_by_prior(spark, tmp_path,
                                                 monkeypatch):
    """A $PIKES_EL_DICT URI whose localname yields no context words
    (one ending in "/" or "_") scores by its prior alone; under ANSI
    mode the context ratio used to raise DIVIDE_BY_ZERO."""
    from pikes_spark.operators.annotate import annotate_pages
    from pikes_spark.operators.linking import candidates_df, link_entities

    f = tmp_path / "el_candidates.tsv"
    f.write_text("zorblat industries\thttp://dbpedia.org/resource/Zorblat/\t10\n"
                 "quuxtech holdings\thttp://dbpedia.org/resource/_\t10\n")
    monkeypatch.setenv("PIKES_EL_DICT", str(f))
    el_dict.reset_el_cache()
    try:
        cands = candidates_df(spark)
    finally:
        monkeypatch.delenv("PIKES_EL_DICT")
        el_dict.reset_el_cache()
    pages = _pages_df(spark, [
        ("http://e/ec1", "Zorblat Industries announced a merger with "
                         "Quuxtech Holdings yesterday.")])
    links = {r["uri"]: r["score"]
             for r in link_entities(annotate_pages(pages), cands).collect()}
    assert set(links) == {"http://dbpedia.org/resource/Zorblat/",
                          "http://dbpedia.org/resource/_"}
    assert all(abs(s - 0.95) < 1e-9 for s in links.values())
