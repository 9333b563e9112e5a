"""Catalog namespace + client-CLI parity tests (reference S1/S2/S4/S5 and
cmd/client command surface)."""

import os

import pytest

from p2_mapreduce_spark.catalog import DatasetCatalog
from p2_mapreduce_spark import cli


def test_store_load_roundtrip_and_exists(spark, tmp_path):
    cat = DatasetCatalog(spark, str(tmp_path / "dfs"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    cat.store(df, "t1")
    assert cat.exists("t1") and not cat.exists("t2")
    got = sorted(map(tuple, cat.load("t1").collect()))
    assert got == [(1, "a"), (2, "b")]


def test_store_refuses_existing_key_like_reference(spark, tmp_path):
    cat = DatasetCatalog(spark, str(tmp_path / "dfs"))
    df = spark.createDataFrame([(1,)], ["k"])
    cat.store(df, "t1")
    with pytest.raises(Exception):
        cat.store(df, "t1")  # manager.go:755-762 output-unused check
    cat.store(df, "t1", mode="overwrite")  # explicit opt-out works


def test_prefix_list_and_delete(spark, tmp_path):
    cat = DatasetCatalog(spark, str(tmp_path / "dfs"))
    df = spark.createDataFrame([(1,)], ["k"])
    for key in ("a/one", "a/two", "b.three"):
        cat.store(df, key)
    assert cat.list() == ["a/one", "a/two", "b.three"]
    assert cat.list("a/") == ["a/one", "a/two"]  # strings.HasPrefix semantics
    assert cat.delete("a/one") is True
    assert cat.delete("a/one") is False  # idempotent
    assert cat.list("a/") == ["a/two"]


def test_keys_cannot_escape_root(spark, tmp_path):
    cat = DatasetCatalog(spark, str(tmp_path / "dfs"))
    df = spark.createDataFrame([(1,)], ["k"])
    cat.store(df, "../escape")  # percent-encoded: stays one segment
    assert cat.list() == ["../escape"]
    assert not (tmp_path / "escape").exists()
    with pytest.raises(ValueError):
        cat.store(df, "")


def test_cli_wordcount_workflow_end_to_end(spark, tmp_path):
    """The reference demo workflow: upload → mapreduce → download, checked
    against known counts."""
    src = tmp_path / "in.txt"
    src.write_text("the cat and the dog\nThe end\n")
    root = str(tmp_path / "dfs")
    cli.main(["--root", root, "upload", str(src), "in"], spark=spark)
    cli.main(
        ["--root", root, "mapreduce", "in", "out", "wordcount", "wordcount"],
        spark=spark,
    )
    assert cli.main(["--root", root, "list"], spark=spark) == "in\nout"
    dst = tmp_path / "out.tsv"
    cli.main(["--root", root, "download", "out", str(dst)], spark=spark)
    lines = dst.read_text().strip().splitlines()
    got = dict(ln.split("\t") for ln in lines)
    assert got == {"the": "3", "cat": "1", "and": "1", "dog": "1", "end": "1"}
    # aggregate path: globally key-sorted (manager.go:1128-1132)
    assert [ln.split("\t")[0] for ln in lines] == sorted(got)


def test_cli_mapreduce_refuses_bad_inputs(spark, tmp_path):
    root = str(tmp_path / "dfs")
    src = tmp_path / "in.txt"
    src.write_text("x\n")
    cli.main(["--root", root, "upload", str(src), "in"], spark=spark)
    # output key collision
    with pytest.raises(SystemExit):
        cli.main(["--root", root, "mapreduce", "in", "in", "wordcount", "wordcount"],
                 spark=spark)
    # non-line-record dataset as mapreduce input
    cat = DatasetCatalog(spark, root)
    cat.store(spark.createDataFrame([(1,)], ["k"]), "notext")
    with pytest.raises(SystemExit):
        cli.main(["--root", root, "mapreduce", "notext", "o", "wordcount", "wordcount"],
                 spark=spark)


def test_cli_upload_refuses_binary(spark, tmp_path):
    bad = tmp_path / "bin.dat"
    bad.write_bytes(b"\x00\x01\x02binary")
    with pytest.raises(ValueError):
        cli.main(["--root", str(tmp_path / "dfs"), "upload", str(bad), "b"],
                 spark=spark)


def test_cli_funcs_lists_registry(spark, tmp_path, capsys):
    out = cli.main(["--root", str(tmp_path / "dfs"), "funcs"], spark=spark)
    assert "wordcount" in out and "sum" in out


def test_blob_roundtrip(spark, tmp_path):
    cat = DatasetCatalog(spark, str(tmp_path / "dfs"))
    payload = b"\x00binary bytes \xf0\x9f\x9a\x80"
    cat.store_blob("_plugins/x.py", payload)
    assert cat.load_blob("_plugins/x.py") == payload
    with pytest.raises(KeyError):
        cat.load_blob("_plugins/missing.py")


def test_cli_uploaded_plugin_runs_end_to_end(spark, tmp_path):
    """The reference M14 flow: upload_plugin → mapreduce <ids> resolves
    the stored source, symbol-looks-up <id>_map/<id>_reduce, and runs."""
    root = str(tmp_path / "dfs")
    plugin = tmp_path / "lineplug.py"
    plugin.write_text(
        "def linelen_map(filename, contents):\n"
        "    yield str(len(contents or '')), '1'\n"
        "def linelen_reduce(key, values):\n"
        "    return str(len(values))\n"
    )
    src = tmp_path / "in.txt"
    src.write_text("abc\nde\nabc\n")
    cli.main(["--root", root, "upload", str(src), "in"], spark=spark)
    cli.main(["--root", root, "upload_plugin", str(plugin), "linelen"], spark=spark)
    cli.main(
        ["--root", root, "mapreduce", "in", "out", "linelen", "linelen"],
        spark=spark,
    )
    got = {r["key"]: r["value"] for r in DatasetCatalog(spark, root).load("out").collect()}
    assert got == {"3": "2", "2": "1"}  # two 3-char lines, one 2-char line


def test_cli_sql_after_upload_plugin(spark, tmp_path):
    """Plugin sources share the catalog namespace with datasets; `sql`
    registers only the datasets as views, so an uploaded plugin must not
    break it."""
    root = str(tmp_path / "dfs")
    src = tmp_path / "in.txt"
    src.write_text("alpha beta\nbeta\n")
    plugin = tmp_path / "plug.py"
    plugin.write_text("def plug_map(filename, contents):\n    yield contents, '1'\n")
    cli.main(["--root", root, "upload", str(src), "docs"], spark=spark)
    cli.main(["--root", root, "upload_plugin", str(plugin), "plug"], spark=spark)
    assert cli.main(["--root", root, "list"], spark=spark) == "_plugins/plug.py\ndocs"
    out = cli.main(["--root", root, "sql", "SELECT COUNT(*) AS n FROM docs"], spark=spark)
    assert out.splitlines() == ["n", "2"]


def test_cli_upload_plugin_rejects_missing_symbols(spark, tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text("def unrelated():\n    pass\n")
    with pytest.raises(SystemExit):
        cli.main(
            ["--root", str(tmp_path / "dfs"), "upload_plugin", str(bad), "nope"],
            spark=spark,
        )


def test_cli_node_reports_executors(spark, tmp_path):
    out = cli.main(["--root", str(tmp_path / "dfs"), "node"], spark=spark)
    assert "defaultParallelism=" in out and "free=" in out


def test_cli_sql_verb_over_tables_and_catalog(spark, sf_dir, tmp_path):
    """`sql` runs ad-hoc Catalyst SQL over the star schema and catalog
    datasets; output is a TSV page."""
    from p2_mapreduce_spark import cli

    root = str(tmp_path / "dfs")
    out = cli.main(
        [
            "--root", root,
            "sql",
            "SELECT r_name, COUNT(*) AS n FROM region GROUP BY 1 ORDER BY 1",
            "--tables-dir", sf_dir,
        ],
        spark=spark,
    )
    lines = out.splitlines()
    assert lines[0] == "r_name\tn"
    assert len(lines) == 6  # 5 regions + header

    # catalog datasets are visible as views too
    smallt = str(tmp_path / "smallt.txt")
    with open(smallt, "w") as f:
        f.write("alpha beta\nbeta\n")
    cli.main(["--root", root, "upload", smallt, "smallt"], spark=spark)
    out2 = cli.main(
        ["--root", root, "sql", "SELECT COUNT(*) AS n FROM smallt"],
        spark=spark,
    )
    assert out2.splitlines()[1] == "2"


class TestChunkPlacement:
    """Behavioral parity with manager.go selectReplicaNode: fill-ratio
    leveling, replica exclusion, capacity refusal, sequential state."""

    def test_levels_fill_ratio_across_heterogeneous_nodes(self):
        from p2_mapreduce_spark.catalog import plan_chunk_placement

        nodes = [("a", 1000, 1000), ("b", 500, 500), ("c", 1000, 200)]
        # equal chunks: the greedy must spread by RATIO, not absolute
        # free bytes — node c (20% free) is picked last
        out = plan_chunk_placement(
            [(1, 100), (2, 100), (3, 100)], nodes, replicas=2
        )
        assert out[1] == ["a", "b"]  # both at 100%, c at 20%
        # after chunk 1: a 90%, b 80%, c 20%
        assert out[2] == ["a", "b"]
        # after chunk 2: a 80%, b 60% -> still ahead of c
        assert out[3] == ["a", "b"]

    def test_required_space_counts_against_capacity(self):
        from p2_mapreduce_spark.catalog import plan_chunk_placement

        # b can hold exactly one 60-chunk: the second placement must
        # refuse it (free - required < size) and fall through to c
        nodes = [("a", 1000, 1000), ("b", 100, 100), ("c", 1000, 300)]
        out = plan_chunk_placement([(1, 60), (2, 60)], nodes, replicas=2)
        assert out[1] == ["a", "b"]
        assert out[2] == ["a", "c"]

    def test_insufficient_nodes_raises(self):
        import pytest as _pytest

        from p2_mapreduce_spark.catalog import plan_chunk_placement

        with _pytest.raises(ValueError, match="no enough node"):
            plan_chunk_placement(
                [(1, 300)], [("a", 1000, 1000), ("b", 200, 250)],
                replicas=2,
            )
