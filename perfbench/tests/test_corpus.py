import hashlib

from oct_report_ocr_spark.synth.gen_corpus import generate_parquet, make_doc, n_docs_for_sf
from perfbench.corpus import write_corpus


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_pool_writer_equals_generate_parquet(tmp_path):
    sf = 0.0023  # 1,150 docs: two full row groups and a partial one
    n = generate_parquet(str(tmp_path / "serial.parquet"), sf, seed=9)
    facts = write_corpus(str(tmp_path / "pool.parquet"), n_docs_for_sf(sf), seed=9, procs=2)
    assert facts.n_docs == n
    assert digest(tmp_path / "pool.parquet") == digest(tmp_path / "serial.parquet")
    docs = [make_doc(9, i) for i in range(n)]
    assert facts.n_en == sum(d["lang"] == "en" for d in docs)
    assert facts.n_en_dirty == sum(d["lang"] == "en" and d["_template"].startswith("dirty-") for d in docs)
