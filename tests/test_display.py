from dataframe_spark.display import plot_histogram, to_markdown, to_string
from dataframe_spark.errors import ColumnNotFoundError


def test_to_markdown(small):
    """Reference toMarkdownTable shape: name<br>type header, one
    --- separator row, pipe-delimited padded value rows."""
    s = to_markdown(small.sort_by(["id"]), n=2)
    lines = s.splitlines()
    assert len(lines) == 4  # header, separator, 2 rows
    assert lines[0].startswith("| ") and lines[0].endswith(" |")
    assert "id<br>int" in lines[0].replace(" ", "")
    assert set(lines[1]) <= {"|", "-", " "}
    # every row has the same pipe structure
    assert {ln.count("|") for ln in lines} == {lines[0].count("|")}


def test_to_string_boxed(small):
    s = to_string(small.sort_by(["id"]), n=2)
    lines = s.splitlines()
    assert "id" in lines[0] and "grp" in lines[0]
    assert "int" in lines[2] and "double" in lines[2]
    assert len(lines) == 6  # header, sep, types, sep, 2 rows


def test_plot_histogram(lineitem):
    s = plot_histogram(lineitem, "l_quantity", bins=5)
    assert s.count("\n") == 4
    assert "#" in s


def test_column_not_found_hint(small):
    try:
        small.apply("grpp", lambda c: c)
        raise AssertionError("no error")
    except ColumnNotFoundError as e:
        assert "grp" in str(e)  # did-you-mean hint


def test_pipe_and_fold(small):
    from pyspark.sql import functions as F

    out = small.pipe(lambda d: d.filter_where(F.col("id") > 1))
    assert out.n_rows() == 3
    out2 = small.fold(
        lambda col, d: d.derive(f"{col}_copy", F.col(col)), ["id", "val"]
    )
    assert "id_copy" in out2.column_names and "val_copy" in out2.column_names


def test_to_markdown_escapes_pipes_and_newlines(spark):
    from dataframe_spark import DataFrame
    from dataframe_spark.display import to_markdown

    df = DataFrame(
        spark.createDataFrame([("a|b", "l1\nl2")], "p string, m string")
    )
    md = to_markdown(df)
    lines = md.splitlines()
    # one header + one separator + exactly one body row: the newline
    # did not split the row, and every row has the same cell count
    assert len(lines) == 3
    assert "a\\|b" in lines[2] and "l1<br>l2" in lines[2]
    counts = {line.count("|") - line.count("\\|") for line in lines}
    assert len(counts) == 1


def test_terminal_plots_render(spark):
    """Display/Terminal/Plot.hs surface: each plot kind reduces in
    Spark and renders a non-empty ASCII block."""
    from dataframe_spark import DataFrame
    from dataframe_spark import display as disp

    df = DataFrame(
        spark.createDataFrame(
            [(i, float(i % 7), float(i * i % 13), "g" + str(i % 3))
             for i in range(1, 101)],
            "id long, a double, b double, grp string",
        )
    )
    hist = disp.plot_histogram(df, "a", bins=5)
    assert hist.count("\n") == 4 and "#" in hist
    bars = disp.plot_bars(df, "grp")
    assert bars.splitlines()[0].startswith("g1")  # 34 rows, most frequent
    scat = disp.plot_scatter(df, "a", "b", width=20, height=8)
    assert "|" in scat and "a" in scat.splitlines()[-1]
    lines = disp.plot_lines(df, "id", ["a", "b"], width=20, height=6)
    assert "*=a" in lines.splitlines()[-1]
    box = disp.plot_box_plots(df, ["a", "b"], width=30)
    assert box.count("#") == 2  # one median marker per column
    stacked = disp.plot_stacked_bars(df, "grp", ["a", "b"], width=20)
    assert len(stacked.splitlines()) == 4  # 3 categories + legend
    corr = disp.plot_correlation_matrix(df, ["id", "a", "b"])
    assert "1.00" in corr
    allh = disp.plot_all_histograms(df, bins=4)
    assert "== id ==" in allh and "== a ==" in allh


def test_plot_all_histograms_nan_extents(spark):
    """A single NaN must not poison the shared min/max extents (NaN
    sorts greatest in Spark) and collapse every bucket to 0; output
    must match plot_histogram on the same column (ADVICE r5)."""
    from dataframe_spark import DataFrame
    from dataframe_spark import display as disp

    df = DataFrame(
        spark.createDataFrame(
            [(float(i),) for i in range(1, 41)] + [(float("nan"),)],
            "a double",
        )
    )
    allh = disp.plot_all_histograms(df, bins=4)
    single = disp.plot_histogram(df, "a", bins=4)
    # same bucket ids and counts in both renderings
    import re

    def buckets(s):
        return re.findall(r"^\s*(\d+) \|.* (\d+)$", s, re.M)

    assert buckets(allh) == buckets(single)
    assert len(buckets(allh)) == 4  # not collapsed into bucket 0


def test_terminal_plots_empty_and_constant(spark):
    from dataframe_spark import DataFrame
    from dataframe_spark import display as disp

    empty = DataFrame(spark.createDataFrame([], "a double, b double"))
    assert disp.plot_scatter(empty, "a", "b") == "(empty)"
    assert disp.plot_lines(empty, "a", ["b"]) == "(empty)"
    assert disp.plot_box_plots(empty, ["a"]) == "(empty)"
    const = DataFrame(spark.createDataFrame([(1.0, 2.0)] * 5, "a double, b double"))
    # zero-span axes must not divide by zero
    assert "|" in disp.plot_scatter(const, "a", "b", width=10, height=4)
    assert "#" in disp.plot_box_plots(const, ["a", "b"], width=20)


def test_plots_tolerate_nan(spark, monkeypatch):
    """One NaN must not poison quartiles, axes, or bins (review r4):
    summarize/plot paths drop NaN like the old dropna() kernel."""
    from dataframe_spark import DataFrame
    from dataframe_spark import display as disp
    from dataframe_spark.operators import quantiles

    df = DataFrame(
        spark.createDataFrame(
            [(1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (float("nan"), 4.0)],
            "a double, x double",
        )
    )
    # a list-built frame reads 2^63-1 plan bytes (plans/stats.py)
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 1 << 63)
    row = {r["column_name"]: r for r in df.summarize().collect()}
    assert row["a"]["median"] == 2.0 and row["a"]["q25"] == 1.5
    # moments must be NaN-cleaned like the quartiles (review r4):
    # a NaN-poisoned max would sit below the clean q75
    assert row["a"]["mean"] == 2.0 and row["a"]["max"] == 3.0
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 0)
    drow = {r["column_name"]: r for r in df.summarize().collect()}
    assert drow["a"]["mean"] == 2.0 and drow["a"]["max"] == 3.0
    out = disp.plot_lines(df, "x", ["a"], width=10, height=4)
    assert "(empty)" not in out  # and no ValueError
    box = disp.plot_box_plots(df, ["a"], width=20)
    assert "3" in box.splitlines()[-1]  # true max survives the NaN
    assert "|" in disp.plot_scatter(df, "a", "x", width=10, height=4)
    # stacked bars: NaN in a value column must not reach round()
    cat = DataFrame(
        spark.createDataFrame(
            [("u", 1.0, 2.0), ("v", float("nan"), 3.0)],
            "k string, a double, b double",
        )
    )
    stacked = disp.plot_stacked_bars(cat, "k", ["a", "b"], width=10)
    assert "v" in stacked and "nan" not in stacked.lower()
