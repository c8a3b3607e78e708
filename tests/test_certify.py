"""tools/certify.py's decade sweeps without Spark: the rep loop, the
per-decade corpus generation and the merge, on stub sessions and
stub parts."""

import itertools

import pytest

from tools import certify, scale_data

STEPS = {"10x": 1.0, "100x": 10.0, "1000x": 100.0}


class _Frame:
    """Stands in for a built frame; records the noop sink's save."""

    def __init__(self, log, name):
        self.log, self.name = log, name

    @property
    def write(self):
        return self

    def format(self, fmt):
        return self

    def mode(self, mode):
        return self

    def save(self):
        self.log.append(("save", self.name))


class _Spark:
    def __init__(self):
        self.clears = 0
        self.catalog = self
        self.stopped = False

    def clearCache(self):
        self.clears += 1

    def stop(self):
        self.stopped = True


@pytest.fixture
def profiled(monkeypatch):
    """Replace profile_call: run the call, return a numbered profile."""
    from tools import stage_profile

    calls = itertools.count()

    def fake(spark, fn):
        i = next(calls)
        return fn(), {"wall_s": 1.0 + i, "steps": {"result": {"jobs": i}}}

    monkeypatch.setattr(stage_profile, "profile_call", fake)


def test_certify_offers_the_six_sweeps():
    assert set(certify.DECADE_SWEEPS) == {
        "decades", "thousandx", "vectors", "vectors1000x"
    }
    tags = {s: t for s, (_, t, _) in certify.DECADE_SWEEPS.items()}
    assert tags["decades"] == tags["vectors"] == ("10x", "100x")
    assert tags["thousandx"] == tags["vectors1000x"] == ("10x", "100x", "1000x")
    for name in ("sweep_parity", "sweep_tenx"):
        assert callable(getattr(certify, name))
    assert "q_synthesis" not in certify.FLAGSHIPS
    assert len(set(certify.FLAGSHIPS)) == len(certify.FLAGSHIPS) == 14


def test_every_rep_is_a_profiled_cold_call(profiled):
    """Each rep clears the storage cache and the memoized fits, then
    runs build + sink inside profile_call; the rep's wall is the
    profile's wall and every profile is kept."""
    from dataframe_spark.queries import ml_q, text_q

    spark, log = _Spark(), []
    text_q._BPE_CACHE["stale"] = ml_q._BEAM_CACHE["stale"] = 1

    def build():
        assert not text_q._BPE_CACHE and not ml_q._BEAM_CACHE
        return _Frame(log, "q")

    got = certify._reps(spark, "10x q", build, 3)
    assert spark.clears == 3
    assert log == [("save", "q")] * 3
    assert got["reps"] == [1.0, 2.0, 3.0]
    assert got["sec"] == 1.0 and got["spread"] == 3.0
    assert [p["steps"]["result"]["jobs"] for p in got["profiles"]] == [0, 1, 2]


def test_registry_decade_times_every_flagship(profiled):
    spark, log = _Spark(), []
    qs = {
        name: (lambda name: lambda s, d: _Frame(log, (name, d)))(name)
        for name in certify.FLAGSHIPS
    }
    part = {}
    certify._flagships("100x", spark, qs, part, 2)
    assert list(part["walls"]) == certify.FLAGSHIPS
    assert log == [
        ("save", (name, certify.DIR_100X))
        for name in certify.FLAGSHIPS for _ in range(2)
    ]
    assert all(len(w["profiles"]) == 2 for w in part["walls"].values())


class _Stop(Exception):
    pass


@pytest.mark.parametrize("sweep,top", [
    ("decades", "100x"), ("vectors", "100x"),
    ("thousandx", "1000x"), ("vectors1000x", "1000x"),
])
def test_section_child_generates_up_to_the_sweeps_top_decade(
    monkeypatch, sweep, top
):
    """A decade child generates the chained corpora up to its sweep's
    top decade and no further, before it measures anything."""
    made = []

    def ensure(spark, src, out):
        made.append((src, out))
        return True

    def bracket(*args):
        raise _Stop

    monkeypatch.setattr(scale_data, "ensure", ensure)
    monkeypatch.setattr(certify, "_spark", lambda name: _Spark())
    monkeypatch.setattr(certify, "_canary_bracket", bracket)
    with pytest.raises(_Stop):
        certify._run_sections(sweep, ["--section=10x", "--partdir=unused"])
    chain = [
        (certify.SF01, certify.DIR_10X),
        (certify.DIR_10X, certify.DIR_100X),
        (certify.DIR_100X, certify.DIR_1000X),
    ]
    assert made == chain[: list(certify.DECADES).index(top) + 1]


def _stats(sec, tag):
    return {
        "sec": sec, "reps": [sec, sec * 1.5], "spread": 1.5,
        "profiles": [{"wall_s": sec, "steps": {"result": {"tag": tag}}}] * 2,
    }


def _canary(pre, post):
    return {"pre": pre, "post": post,
            "mean_sec": round((min(pre) + min(post)) / 2, 3)}


def _parts(sweep, canaries, names):
    _, tags, _ = certify.DECADE_SWEEPS[sweep]
    parts = {}
    for tag in tags:
        parts[tag] = {
            "canary": canaries[tag],
            "walls": {n: _stats(STEPS[tag], tag) for n in names},
        }
    return parts


@pytest.mark.parametrize("sweep", sorted(certify.DECADE_SWEEPS))
def test_merge_gives_factors_profiles_and_burst_flag(sweep):
    measure, tags, _ = certify.DECADE_SWEEPS[sweep]
    names = (
        certify.FLAGSHIPS if measure is certify._flagships
        else ["semdedup", "knn_ivf", "edge_build", "pagerank"]
    )
    # the 100x process ran on a box twice as slow; 10x's canary has
    # a one-off warmup first rep, which is not a burst
    canaries = {
        "10x": _canary([9.0, 2.0], [2.0, 2.1]),
        "100x": _canary([4.0, 4.2], [4.0, 4.1]),
        "1000x": _canary([4.0, 4.0], [4.0, 4.0]),
    }
    parts = _parts(sweep, canaries, names)
    if measure is certify._vectors_decade:
        for tag in tags:
            parts[tag]["corpus"] = {"rows": int(STEPS[tag] * 20_000)}
        if "1000x" in tags:
            parts["1000x"]["megabucket"] = {"n_pairs": 7}
    merged = certify._merge(sweep, parts)

    assert merged["sweep"] == sweep
    assert list(merged["walls"]) == names
    for name in names:
        for tag in tags:
            w = merged["walls"][name][tag]
            assert w["profiles"][0]["steps"]["result"]["tag"] == tag
            assert len(w["profiles"]) == 2
        f = merged["per_decade_factors"][name]
        assert f["100x_over_10x"] == 10.0
        assert f["canary_normalized"]["100x_over_10x"] == 5.0
        if "1000x" in tags:
            assert f["1000x_over_100x"] == 10.0
            assert f["canary_normalized"]["1000x_over_100x"] == 10.0
        else:
            assert set(f) == {"100x_over_10x", "canary_normalized"}
    assert merged["canary_ratio"]["100x_over_10x"] == 2.0
    assert merged["canary_spread"]["10x"] == 1.0
    assert not merged["burst_suspect"]
    assert merged["reps"] == 2 and merged["reps_top_decade"] == 3
    if measure is certify._vectors_decade:
        assert merged["corpus"]["100x"] == {"rows": 200_000}
        assert ("megabucket" in merged) == ("1000x" in tags)
    else:
        assert "corpus" not in merged and "megabucket" not in merged

    # a canary whose quiet floor moved over 2x inside one process
    canaries["100x"] = _canary([4.0, 4.2], [9.0, 9.5])
    merged = certify._merge(sweep, _parts(sweep, canaries, names))
    assert merged["canary_spread"]["100x"] == 2.25
    assert merged["burst_suspect"]


def test_merge_reads_nothing_but_its_parts():
    """The merge neither mutates its parts nor needs a session."""
    import copy

    canaries = {t: _canary([1.0, 1.0], [1.0, 1.0]) for t in STEPS}
    parts = _parts("thousandx", canaries, ["q_bpe"])
    before = copy.deepcopy(parts)
    certify._merge("thousandx", parts)
    assert parts == before
