"""Featurizer (F2/F3/F5, P5) golden tests against the reference's shipped
crfsuite dumps (data/crfsuite.weiboNER.charpos.conll.{dev,test})."""

from pathlib import Path

import pytest

from golden_horse_spark.model.features import (
    OOV,
    encode_sentence,
    escape_feature,
    escaped_token_features,
    token_features,
)
from golden_horse_spark.sources.conll import read_charpos_golden

GOLDEN_DEV = "/root/reference/data/crfsuite.weiboNER.charpos.conll.dev"


def _chars_from_golden(sentence_rows):
    """Recover the raw char sequence from each token's 'w[0]=' feature
    (the token column itself is charpos-suffixed)."""
    chars = []
    for _tok, _lab, feats in sentence_rows:
        w0 = [f for f in feats if f.startswith("w[0]=")]
        assert len(w0) == 1
        chars.append(w0[0][len("w[0]=") :])
    return chars


@pytest.fixture(scope="module")
def golden_dev():
    return read_charpos_golden(GOLDEN_DEV)


@pytest.mark.skipif(
    not Path(GOLDEN_DEV).exists(),
    reason=f"needs the reference corpus file {GOLDEN_DEV}",
)
def test_features_match_golden_dump_token_for_token(golden_dev):
    for rows in golden_dev:
        chars = _chars_from_golden(rows)
        ours = escaped_token_features(chars)
        theirs = [feats for _tok, _lab, feats in rows]
        assert ours == theirs


def test_edge_truncation_no_padding():
    feats = token_features(list("ab"))
    # offsets -2/2 never fire on a 2-char sentence
    assert not any("w[-2]" in f or "w[2]" in f for fs in feats for f in fs)
    assert "__BOS__" in feats[0] and "__EOS__" in feats[-1]


def test_single_char_sentence_gets_bos_and_eos():
    feats = token_features(["x"])
    assert feats[0][-2:] == ["__BOS__", "__EOS__"]


def test_escape():
    assert escape_feature("w[0]=a:b") == "w[0]=a__COLON__b"


def test_encode_oov_token_gets_oov_feature_id():
    f2i = {OOV: 0, "w[0]=a": 1}
    w2i = {"a": 3}
    feat_ids, word_ids = encode_sentence(["a", "z"], f2i, w2i)
    assert 1 in feat_ids[0]
    assert feat_ids[1] == [0]  # all features unknown -> [_OOV_]
    assert word_ids == [3, 0]  # OOV word -> deterministic 0
