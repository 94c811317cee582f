"""Parity against the reference's truncated golden fixture geometry.

The reference's `example_truncated.wsp` is the first 100 000 bytes of its
82.8 MB golden sensor file: average aggregation, xFilesFactor 0.5, and
archives 10 s x 1 555 200 / 60 s x 5 256 000 / 3600 s x 87 601. The
fixture below is built with the same header and cut at the same byte.
The reference asserts its header decodes fine and the size mismatch is
*exposed but not enforced* (reference test_whisper_pandas.py:100-103);
the full-file golden values it implies are pinned in SURVEY.md §1.2."""

from __future__ import annotations

import pytest

from tests.wsp_fixtures import build_wsp
from whisper_pandas_spark.sources.format import read_header

REF_ARCHIVES = [(10, 1_555_200, 1.0), (60, 5_256_000, 0.443), (3600, 87_601, 0.444)]


@pytest.fixture(scope="module")
def ref_fixture(tmp_path_factory) -> str:
    # no "truncated" in the name: the scan test matches the reader's
    # message, which must never be satisfied by the path alone
    path = str(tmp_path_factory.mktemp("ref") / "golden_head.wsp")
    build_wsp(path, "average", 0.5, REF_ARCHIVES, truncate_to=100_000)
    return path


def test_reference_truncated_header_parity(ref_fixture):
    info = read_header(ref_fixture)
    # Golden header values (reference test_whisper_pandas.py:19-40 asserts
    # these for the untruncated original; the header region is intact)
    assert info.aggregation_method == "average"
    assert info.max_retention == 315_363_600
    assert info.x_files_factor == pytest.approx(0.5)
    assert len(info.archives) == 3

    spp = [a.seconds_per_point for a in info.archives]
    pts = [a.points for a in info.archives]
    assert spp == [10, 60, 3600]
    assert pts == [1_555_200, 5_256_000, 87_601]
    # retention = spp * points (reference whisper_pandas.py:67-69)
    assert [a.retention for a in info.archives] == [
        15_552_000, 315_360_000, 315_363_600
    ]
    # header geometry (reference whisper_pandas.py:125-135)
    assert info.header_size == 16 + 12 * 3
    assert info.file_size == 52 + 12 * (1_555_200 + 5_256_000 + 87_601)
    assert info.file_size == 82_785_664  # test_whisper_pandas.py:27-28
    # truncation is EXPOSED, not enforced
    assert info.file_size_actual == 100_000
    assert info.file_size_mismatch is True


def test_reference_truncated_scan_raises_clearly(spark, ref_fixture):
    """Reference semantics: the HEADER of a truncated file reads fine
    (test above) but materializing archive data fails — the reference's
    `to_frame()` would hit a short numpy buffer
    (whisper_pandas.py:178-184); our reader raises a descriptive error
    instead of decoding garbage."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    df = spark.read.format("whisper").load(ref_fixture)
    with pytest.raises(Exception, match=r"but buffer has \d+ bytes"):
        df.collect()


def test_reference_truncated_meta_dataframe(spark, ref_fixture):
    """Header-only APIs stay fully usable on the truncated file."""
    from whisper_pandas_spark.sources.meta import archive_meta, file_meta

    meta = file_meta(spark, ref_fixture).collect()
    assert len(meta) == 1 and meta[0]["file_size_mismatch"] is True
    arch = archive_meta(spark, ref_fixture).collect()
    assert [a["seconds_per_point"] for a in arch] == [10, 60, 3600]
