from __future__ import annotations

import pytest

from miru_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("miru-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def index_path(spark, tmp_path_factory):
    from miru_spark.functions.codecs import CODEC_VARINT
    from miru_spark.index.writer import build_index
    from miru_spark.schema import read_corpus

    p = str(tmp_path_factory.mktemp("idx") / "sf0001")
    # small target_chunk so hot terms genuinely split across buckets
    build_index(
        spark,
        read_corpus(spark, SF_DIR),
        p,
        num_partitions=8,
        codec=CODEC_VARINT,
        target_chunk=64,
    )
    return p


@pytest.fixture(scope="session")
def reader(spark, index_path):
    from miru_spark.index.reader import IndexReader

    return IndexReader(spark, index_path)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def fetched_rows(reader, terms, with_positions=False):
    """``reader.fetch_terms`` output as sorted, comparable chunk rows."""
    rows = []
    for term, tp in reader.fetch_terms(terms, with_positions).items():
        assert tp.term == term and tp.df == sum(r["df_chunk"] for r in tp.chunks)
        assert [r["bucket"] for r in tp.chunks] == sorted(
            r["bucket"] for r in tp.chunks
        )
        for r in tp.chunks:
            bm = r["bm"]
            rows.append((
                r["term"], r["bucket"], r["codec"], r["df_chunk"],
                bytes(r["blob"]), list(r["i_tf"]), list(r["i_dl"]),
                bm["n"].tolist(), bm["last"].tolist(),
                r["pos_blob"] if with_positions else None,
            ))
    return sorted(rows, key=lambda r: (r[0], r[1]))


def scanned_rows(reader, terms, with_positions=False):
    """The same chunk rows read by a full Spark scan of the reader's
    postings (``postings_df``) — the reference for ``fetched_rows``."""
    rows = [
        (
            r.term, r.bucket, r.codec, r.df_chunk,
            bytes(r.blob), list(r.i_tf), list(r.i_dl),
            [b.n for b in r.blocks], [b.last_docid for b in r.blocks],
            (bytes(r.pos_blob) if r.pos_blob is not None else None)
            if with_positions else None,
        )
        for r in reader.postings_df(list(terms)).collect()
    ]
    return sorted(rows, key=lambda r: (r[0], r[1]))
