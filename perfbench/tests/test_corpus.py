"""The corpus generator is a pure function of the seed."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402

_DIGEST = (
    "import sys; sys.path.insert(0, {here!r}); import corpus; "
    "print(corpus.corpus_digest(corpus.make_corpus(5, 8, 3) "
    "+ [corpus.make_feed(5, 'cli.xml', 'hourly_electric', 3)]))"
)


def _digest_in_process(hashseed: str) -> str:
    env = dict(os.environ, PYTHONHASHSEED=hashseed)
    out = subprocess.run(
        [sys.executable, "-c", _DIGEST.format(here=str(HERE))],
        env=env, capture_output=True, text=True, check=True, timeout=60,
    )
    return out.stdout.strip()


def test_corpus_bytes_identical_across_hash_seeds():
    a, b = _digest_in_process("1"), _digest_in_process("2")
    assert a == b == corpus.corpus_digest(
        corpus.make_corpus(5, 8, 3) + [corpus.make_feed(5, "cli.xml", "hourly_electric", 3)]
    )


def test_seed_changes_bytes_but_not_shape():
    a, b = corpus.make_corpus(1, 8, 3), corpus.make_corpus(2, 8, 3)
    assert corpus.corpus_digest(a) != corpus.corpus_digest(b)
    assert [(f.name, f.shape) for f in a] == [(f.name, f.shape) for f in b]
    assert [f.data.count(b"<espi:IntervalReading>") for f in a if not f.bad] == [
        f.data.count(b"<espi:IntervalReading>") for f in b if not f.bad
    ]


def test_bad_files_fail_and_good_files_convert(tmp_path):
    sys.path.insert(0, str(HERE.parent))
    from greenbuttonengine_spark.espi import fastpath

    errors = {}
    for f in corpus.make_corpus(3, 4, 40):
        p = tmp_path / f.name
        p.write_bytes(f.data)
        rows, errs = fastpath.convert_file(str(p))
        errors[f.shape] = errs
        if not f.bad:
            assert rows and not errs, f.name
        if f.shape == "enova":
            assert any(r["cost"] > 100 for r in rows)  # x100 patch applied
    assert errors["bad_xml"][0].startswith("ParseError")
    assert errors["bad_no_ltp"] == ["Missing LocalTimeParameters."]
    assert errors["bad_utf8"][0].startswith("UnicodeDecodeError")
