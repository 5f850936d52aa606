"""The offline fixture-training tools read the reference corpus; on a
host without it each exits with status 2 and names the missing file."""

import subprocess
import sys

import pytest

from tests.conftest import REF_DATA, REPO


@pytest.mark.skipif(REF_DATA.exists(), reason=f"{REF_DATA} is present")
@pytest.mark.parametrize(
    "tool, first_input",
    [
        ("train_fixture.py", "weiboNER.conll.train"),
        ("train_char_embeddings.py", "weiboNER.conll.train"),
        ("train_joint_fixture.py", "weiboNER_2nd_conll.train"),
        ("fit_segmenter_lexicon.py", "crfsuite.weiboNER.charpos.conll.dev"),
    ],
)
def test_tool_names_missing_reference_input(tool, first_input):
    run = subprocess.run(
        [sys.executable, str(REPO / "tools" / tool)],
        capture_output=True, text=True, timeout=120,
    )
    assert run.returncode == 2, run.stderr
    assert run.stderr.splitlines() == [f"missing input: {REF_DATA / first_input}"]
