"""The tolerant decode pass and the hamming band join each have one owner.

Every ``on_error`` decoder in ``operators/multimodal.py`` runs through
``_decode_pass`` (the only ``except CodecError``), and every hamming
near-dup operator builds its shift-and-mask band keys through
``operators/dedup.py:hamming_band_join`` (the only ``posexplode`` over
them). The contract test pins what the shared pass does for each decoder.
"""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pytest

from whisper_pandas_spark.functions.codecs import encode_gif, encode_wav
from whisper_pandas_spark.operators import multimodal as mm
from whisper_pandas_spark.operators.dedup import hamming_band_join

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "whisper_pandas_spark"
HELPERS = {
    PKG / "operators" / "multimodal.py": "_decode_pass",
    PKG / "operators" / "dedup.py": "hamming_band_join",
}
_SHIFTS = ("shiftright", "shiftrightunsigned")


def _names(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _call_name(node: ast.AST) -> str | None:
    f = node.func if isinstance(node, ast.Call) else None
    if isinstance(f, ast.Attribute):
        return f.attr
    return f.id if isinstance(f, ast.Name) else None


def _is_shift_mask(node: ast.AST) -> bool:
    """``<... shiftright(...) ...>.bitwiseAND(mask)``."""
    f = node.func if isinstance(node, ast.Call) else None
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "bitwiseAND"
        and any(_call_name(n) in _SHIFTS for n in ast.walk(f.value))
    )


def codec_except_sites(tree: ast.AST) -> set[int]:
    """Line numbers of ``except`` clauses that name ``CodecError``."""
    return {
        h.lineno
        for h in ast.walk(tree)
        if isinstance(h, ast.ExceptHandler)
        and h.type is not None
        and "CodecError" in _names(h.type)
    }


def band_explode_sites(tree: ast.AST) -> set[int]:
    """Line numbers of ``posexplode`` calls over shift-and-mask band keys:
    built inside the call's arguments, or bound to a name the enclosing
    function assigned and the arguments read."""
    sites = set()
    funcs = [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    for scope in (tree, *funcs):
        tainted = set()
        if scope is not tree:
            for node in ast.walk(scope):
                if isinstance(node, ast.Assign) and any(map(_is_shift_mask, ast.walk(node.value))):
                    tainted.update(t.id for t in node.targets if isinstance(t, ast.Name))
        for node in ast.walk(scope):
            if _call_name(node) != "posexplode":
                continue
            for sub in (s for a in node.args for s in ast.walk(a)):
                if _is_shift_mask(sub) or (isinstance(sub, ast.Name) and sub.id in tainted):
                    sites.add(node.lineno)
                    break
    return sites


def _stray_sites(find) -> list[str]:
    """*find*'s sites across the package, minus those inside the owner
    helper of their module."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        owned = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == HELPERS.get(path):
                owned.update(range(node.lineno, node.end_lineno + 1))
        out += [f"{path.relative_to(REPO)}:{ln}" for ln in sorted(find(tree) - owned)]
    return out


def test_codec_errors_handled_only_in_decode_pass():
    """skip/null/fail is written once: no decoder catches CodecError itself."""
    sites = _stray_sites(codec_except_sites)
    assert not sites, f"{len(sites)} CodecError handlers outside _decode_pass: {sites}"


def test_band_keys_built_only_in_band_join():
    """The shift-and-mask band explode (and its max_bucket cap) is written once."""
    sites = _stray_sites(band_explode_sites)
    assert not sites, f"{len(sites)} band-key explodes outside hamming_band_join: {sites}"


def test_guard_catches_each_shape():
    """The guard sees a CodecError handler (bare or in a tuple, plain or
    qualified), band keys built inline or through a name, and passes an
    unrelated handler and a posexplode over other keys."""
    src = '''
def a(p):
    try:
        return dec(p)
    except (CodecError, NotImplementedError):
        return None
def b(p):
    try:
        return dec(p)
    except codecs.CodecError:
        raise
def c(df):
    keys = F.array(*[F.shiftrightunsigned("h", 8 * b).bitwiseAND(F.lit(255)) for b in range(8)])
    return df.select(F.posexplode(keys))
def d(df):
    return df.select(F.posexplode(F.array(F.shiftright("h", 15).bitwiseAND(F.lit(32767)))))
def e(df):
    try:
        keys = F.array(F.md5("t"))
    except ValueError:
        pass
    return df.select(F.posexplode(keys), F.shiftright("h", 1).bitwiseAND(F.lit(1)))
'''
    tree = ast.parse(src)
    assert codec_except_sites(tree) == {5, 10}
    assert band_explode_sites(tree) == {14, 16}


# --- the decode contract -------------------------------------------------

_GRAY = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)


def _pgm(img: np.ndarray) -> bytes:
    h, w = img.shape
    return f"P5\n{w} {h}\n255\n".encode() + img.tobytes()


_PAYLOADS = {
    "image": _pgm(np.random.default_rng(1).integers(0, 200, (16, 18), dtype=np.uint8)),
    "audio": encode_wav(
        np.random.default_rng(2).integers(-20000, 20000, 2048).astype(np.int16), 8000
    ),
    "video": encode_gif(
        [np.random.default_rng(3 + f).integers(0, 200, (16, 18), dtype=np.uint8) for f in range(3)],
        _GRAY,
    ),
}

# decoder -> (payload kind, the row `null` mode emits after doc_id)
_DECODERS = {
    "decode_image_stats": ("image", (None,) * 5),
    "decode_frame_stats": ("video", (None,) * 7),
    "decode_audio_stats": ("audio", (None,) * 5),
    "audio_features": ("audio", (None,) * 9),
    "image_features": ("image", (None,) * 9),
    "image_dhash": ("image", (None,)),
    "audio_fingerprint": ("audio", (None,)),
    "video_frame_dhash": ("video", (0, None)),
}


@pytest.mark.parametrize("mode", ["skip", "null", "fail"])
@pytest.mark.parametrize("name", sorted(_DECODERS))
def test_decode_contract(spark, name, mode):
    """One batch of {good, NULL payload, garbage, NULL id with a good
    payload}: ``skip`` keeps the good rows, ``null`` adds one null row per
    bad payload, ``fail`` fails the task. A NULL id passes through as
    NULL with its decoded values; neither a 61-bit id nor the good row's
    values are rounded through float64 by a NULL neighbour."""
    kind, null_row = _DECODERS[name]
    good = _PAYLOADS[kind]
    df = spark.createDataFrame(
        [(1, good), (2, None), (2**60 + 1, b"garbage bytes"), (None, good)],
        "doc_id long, payload binary",
    ).coalesce(1)
    out = getattr(mm, name)(df, "doc_id", on_error=mode)
    if mode == "fail":
        with pytest.raises(Exception, match="CodecError"):
            out.collect()
        return
    got: dict = {}
    for r in out.collect():
        got.setdefault(r[0], []).append(tuple(r)[1:])
    rows = {k: sorted(v, key=repr) for k, v in got.items()}
    assert rows[None] == rows[1]
    assert null_row not in rows[1]
    if mode == "skip":
        assert set(rows) == {1, None}
    else:
        assert set(rows) == {1, 2, 2**60 + 1, None}
        assert rows[2] == rows[2**60 + 1] == [null_row]
        skipped = getattr(mm, name)(df, "doc_id").filter("doc_id = 1").collect()
        assert sorted((tuple(r)[1:] for r in skipped), key=repr) == rows[1]


@pytest.mark.parametrize("name", ["image_dhash", "video_frame_dhash"])
def test_null_rows_do_not_round_64bit_hashes(spark, name):
    """A 64-bit dHash sharing an Arrow batch with a ``null``-mode row
    reads the same as in ``skip`` mode (a float64 column would round its
    low bits)."""
    df = spark.createDataFrame(
        [(1, _PAYLOADS["video" if name.startswith("video") else "image"]), (3, b"garbage")],
        "doc_id long, payload binary",
    ).coalesce(1)
    fn = getattr(mm, name)
    skipped = sorted(tuple(r) for r in fn(df, "doc_id").collect())
    nulled = sorted(tuple(r) for r in fn(df, "doc_id", on_error="null").collect() if r[0] == 1)
    assert nulled == skipped


def test_video_frame_dhash_rejects_every_zero(spark):
    """A non-positive sampling stride fails at call time, like
    decode_frame_stats, not inside a task at the first action."""
    df = spark.createDataFrame([(1, _PAYLOADS["video"])], "doc_id long, payload binary")
    with pytest.raises(ValueError, match="every"):
        mm.video_frame_dhash(df, "doc_id", every=0)


def test_band_join_equals_brute_force(spark):
    """Self-join over 64-bit hashes (sign bit set, a NULL hash, a hot
    bucket): exact for hamming <= bands - 1, NULL pairs with nothing, and
    max_bucket drops only the pairs that meet in an over-full bucket."""
    def signed(v: int) -> int:
        return (v + 2**63) % 2**64 - 2**63

    rng = np.random.default_rng(7)
    hashes = {i: int(rng.integers(-(2**63), 2**63 - 1)) for i in range(6)}
    hashes[6] = hashes[0] ^ 0b1001                   # hamming 2 from doc 0
    hashes[7] = signed(hashes[1] ^ (1 << 63))        # hamming 1, sign flipped
    # docs 9-11 differ from doc 8 by one bit in each of bands 1-7: hamming
    # 7, so they meet doc 8 only in its 4-row band-0 bucket
    hashes[8] = int(rng.integers(-(2**63), 2**63 - 1))
    for k in range(1, 4):
        hashes[8 + k] = hashes[8] ^ sum(1 << (8 * b + k) for b in range(1, 8))
    hashes[12] = None
    df = spark.createDataFrame(sorted(hashes.items()), "doc_id long, h long").persist()

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    def brute(k: int) -> set:
        live = {i: h for i, h in hashes.items() if h is not None}
        return {(i, j, ham(live[i], live[j])) for i in live for j in live
                if i < j and ham(live[i], live[j]) <= k}

    got = {tuple(r) for r in hamming_band_join(df, "h", 8, 8, 7).collect()}
    assert got == brute(7) and {(0, 6, 2), (1, 7, 1)} <= got
    capped = {tuple(r) for r in hamming_band_join(df, "h", 8, 8, 7, max_bucket=3).collect()}
    assert {(8, 9, 7), (8, 10, 7), (8, 11, 7)} <= brute(7)
    assert capped == {p for p in brute(7) if p[0] != 8}
    df.unpersist()
