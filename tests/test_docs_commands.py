"""The run instructions name only scripts that exist: every
``python <path>.py`` / ``python3 <path>.py`` command in the README and the
verify skill must point at a file in the repo."""
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ["README.md", os.path.join(".claude", "skills", "verify", "SKILL.md")]
COMMAND = re.compile(r"\bpython3? +([\w./-]+\.py)\b")


def _commands(doc):
    with open(os.path.join(REPO, doc), encoding="utf-8") as fp:
        return COMMAND.findall(fp.read())


def test_docs_name_commands():
    assert all(_commands(doc) for doc in DOCS)


@pytest.mark.parametrize("doc", DOCS)
def test_doc_commands_exist(doc):
    missing = [path for path in _commands(doc)
               if not os.path.isfile(os.path.join(REPO, path))]
    assert not missing, "%s names missing scripts: %s" % (doc, missing)
