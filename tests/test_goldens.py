"""End-to-end golden regression: byte equality against the reference's own
expected outputs (its regression oracle, samples/Makefile:39-48: page 1,
vertical detection on)."""
import base64

import pytest

from pdfminer_spark.pdf.extract import extract_text
from pdfminer_spark.pdf.layout import LAParams
from pdfminer_spark.spark.pipeline import extract_one

from conftest import golden_text, payload

SAMPLES = [
    "simple1", "simple2", "simple3", "jo",
    "nonfree/dmca", "nonfree/f1040nr", "nonfree/i1040nr", "nonfree/kampo",
    "nonfree/naacl06-shinyama", "nonfree/nlp2004slides",
]

LA = dict(page_numbers=[0], laparams=LAParams(detect_vertical=True))


@pytest.mark.parametrize("name", SAMPLES)
def test_text_golden(name):
    assert extract_text(payload(name), **LA) == golden_text(name)


@pytest.mark.parametrize("name", SAMPLES)
def test_extract_one_all_pages(name):
    """The in-UDF path renders every page exactly as the library does;
    the goldens above pin page 0 only."""
    data = payload(name)
    (text, n_pages, _, n_bytes, status) = extract_one(
        base64.b64encode(data).decode("ascii"), "pdf")
    assert status == "ok"
    assert n_bytes == len(data)
    assert text == extract_text(data, laparams=LAParams(detect_vertical=True))
    assert text.count("\f") == n_pages


ENCRYPTED = ["rc4-40", "rc4-128", "aes-128", "aes-128-m", "aes-256", "aes-256-m"]


@pytest.fixture(scope="module")
def base_text():
    return extract_text(payload("encryption/base"),
                        laparams=LAParams(detect_vertical=True))


@pytest.mark.parametrize("name", ENCRYPTED)
@pytest.mark.parametrize("password", [b"foo", b"baz"], ids=["user", "owner"])
def test_encrypted(name, password, base_text):
    text = extract_text(payload("encryption/" + name), password=password,
                        laparams=LAParams(detect_vertical=True))
    assert text == base_text


def test_bad_payloads():
    from pdfminer_spark.pdf.document import PdfSyntaxError

    for bad in (b"", b"not a pdf", payload("simple1")[:200]):
        with pytest.raises(PdfSyntaxError):
            extract_text(bad)
