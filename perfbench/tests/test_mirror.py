import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from mirror import Mirror, canonical, table_contents
from script import Op


def _mirror(tmp_path):
    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": ["a", "b", "c"],
        "lang": ["en", "en", "de"],
        "source": ["s", "s", "s"],
        "n_chars": pa.array([1, 1, 1], pa.int64()),
    }), tmp_path / "documents.parquet")
    return Mirror(str(tmp_path), ["documents"], {"corpus": "documents"})


def test_writes_compare_row_counts(tmp_path):
    m = _mirror(tmp_path)
    assert m.check(Op("delete", "DELETE FROM corpus WHERE doc_id = 1"), 1) is None
    bad = m.check(Op("update", "UPDATE corpus SET lang = 'x'"), 3)
    assert "got 3, expected 2" in bad


def test_upsert_replaces_matching_keys(tmp_path):
    m = _mirror(tmp_path)
    rows = ((2, "B", "fr", "c", 1), (9, "new", "en", "c", 3))
    assert m.check(Op("upsert", rows=rows, name="corpus"), 2) is None
    cols, got = m.query("SELECT * FROM corpus ORDER BY doc_id")
    assert got == [(1, "a", "en", "s", 1), (2, "B", "fr", "c", 1),
                   (3, "c", "de", "s", 1), (9, "new", "en", "c", 3)]


def test_reads_compare_rows_in_any_order(tmp_path):
    m = _mirror(tmp_path)
    op = Op("lookup", "SELECT doc_id, lang FROM corpus WHERE doc_id < 3")
    assert m.check(op, (["lang", "doc_id"], [("en", 2), ("en", 1)])) is None
    assert "row 1" in m.check(op, (["doc_id", "lang"], [(1, "en"), (2, "xx")]))


def test_whole_table_form_ignores_order_but_not_multiplicity():
    a = table_contents(["x", "t"], [(1, dt.datetime(2001, 1, 1)), (1.0, None)])
    b = table_contents(["t", "x"], [(None, 1.0), (dt.datetime(2001, 1, 1), 1)])
    assert a == b
    assert a != table_contents(["x", "t"], [(1, dt.datetime(2001, 1, 1))] * 2)
    assert canonical(["b", "a"], [(2, 1)]) == (["a", "b"], [(1, 2)])
