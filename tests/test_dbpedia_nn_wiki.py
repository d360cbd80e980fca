"""S7 DBpedia N-Triples parser, M3 NN-scorer plumbing."""

from ontoemma_spark.operators.nn_weights import default_nn_model
from ontoemma_spark.operators.scoring_nn import nn_pair_features
from ontoemma_spark.sources.dbpedia import load_dbpedia_ntriples

NT_SAMPLE = """<http://dbpedia.org/resource/Aspirin> <http://www.w3.org/2000/01/rdf-schema#label> "Aspirin"@en .
<http://dbpedia.org/resource/Aspirin> <http://www.w3.org/2000/01/rdf-schema#label> "Aspirine"@fr .
<http://dbpedia.org/resource/Aspirin> <http://dbpedia.org/ontology/abstract> "Aspirin is a medication."@en .
<http://dbpedia.org/resource/Aspirin> <http://dbpedia.org/ontology/wikiPageWikiLink> <http://dbpedia.org/resource/Drug> .
<http://dbpedia.org/resource/Ibuprofen> <http://www.w3.org/2000/01/rdf-schema#label> "Ibuprofen"@en .
"""


def test_dbpedia_ntriples(spark, tmp_path):
    p = tmp_path / "dump.nt"
    p.write_text(NT_SAMPLE)
    ents = {r["research_entity_id"]: r for r in load_dbpedia_ntriples(spark, str(p)).collect()}
    a = ents["DBP:Aspirin"]
    assert a["canonical_name"] == "Aspirin"
    assert a["aliases"] == ["Aspirin"]  # @fr label filtered by lang
    assert a["definition"] == "Aspirin is a medication."
    assert ents["DBP:Ibuprofen"]["definition"] == ""


def test_nn_scorer_plumbing(spark):
    pairs = spark.createDataFrame(
        [("s1", "t1", "heart attack", "heart attack"),
         ("s2", "t2", "heart attack", "liver failure")],
        "s_id string, t_id string, s_name string, t_name string",
    )
    featurized = pairs.select("s_id", "t_id", *nn_pair_features("s_name", "t_name"))
    scored = default_nn_model().score_pairs(featurized)
    got = {r["s_id"]: r["score"] for r in scored.collect()}
    assert got["s1"] > 0.9           # exact-name pair scores high
    assert 0.0 <= got["s2"] < 0.5    # trained model keeps non-matches below threshold
    # deterministic across runs
    again = {r["s_id"]: r["score"] for r in scored.collect()}
    assert got == again
