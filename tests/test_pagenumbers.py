"""Page-number series parser: parity with the reference module.

The reference's only 'tests' are hard-coded series pretty-printed by hand
(pagenumbers.py:303-317).  Here we go further: we load the actual
reference module (it depends only on `re` + the `roman` package, which we
shim with our own strict parser) and assert exact equality of
parse_series() output on the reference's own series plus randomized ones.

The parity tests (the ones that take the `ref` fixture) need the reference
checkout at REF_PATH and are skipped, with that path named, where it is
absent.  test_roman_values and test_parse_series_review_cases need nothing
outside the repo.
"""

import importlib.util
import os
import random
import sys
import types

import pytest

from archive_pdf_tools_spark.kernels import pagenumbers as ours

REF_PATH = "/root/reference/internetarchivepdf/pagenumbers.py"


@pytest.fixture(scope="module")
def ref():
    if not os.path.exists(REF_PATH):
        pytest.skip("reference checkout absent: " + REF_PATH)
    # Shim the external `roman` package with our strict parser so the
    # reference module can load without site-packages deps.
    roman = types.ModuleType("roman")

    class InvalidRomanNumeralError(Exception):
        pass

    def fromRoman(s):
        try:
            return ours.roman_to_int(s)
        except ValueError:
            raise InvalidRomanNumeralError(s)

    roman.fromRoman = fromRoman
    roman.InvalidRomanNumeralError = InvalidRomanNumeralError
    old = sys.modules.get("roman")
    sys.modules["roman"] = roman
    try:
        spec = importlib.util.spec_from_file_location("ref_pagenumbers", REF_PATH)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        yield mod
    finally:
        if old is not None:
            sys.modules["roman"] = old
        else:
            del sys.modules["roman"]


HARDCODED = [
    [None, 'i', 'ii', 'iii', None, None, None, 'iv', 'v', 'v', 'vi', '3',
     '4', '5', '4', '6', 'i', '7', None],
    ['i', 'ii', 'iii', 'vi', '3', '5', '4', '6', 'i', '7', 'A-2', 'B-2'],
    ['', 'i', 'ii', 'vi', '3', '5', '4', '6', 'i', '7', 'A-2', 'B-2'],
    ['i', 'j', 'k', 'l', None, None, None, None, 'I', 'II', 'III', 'IV',
     'V', 'VI', 'VII', 'VII A.', None, 'VIII', None, '565', '566', '1',
     '2', '3', 'XXXVIIII', '39', 'A', 'B', 'C', 'AA', 'Z'],
]


def _strip(result):
    return [{k: v for k, v in run.items()} for run in result]


@pytest.mark.parametrize("series", HARDCODED, ids=range(len(HARDCODED)))
def test_parity_hardcoded(ref, series):
    got, got_ok = ours.parse_series(series, ignore_invalid=True)
    want, want_ok = ref.parse_series(series, ignore_invalid=True)
    assert _strip(got) == _strip(want)
    assert got_ok == want_ok


def test_parity_randomized(ref):
    vocab = [None, '', '1', '2', '3', '4', '12', '13', 'i', 'ii', 'iii',
             'iv', 'I', 'II', 'III', 'IV', 'V', 'C', 'D', 'a', 'b', 'c',
             'z', 'aa', 'A', 'B', 'Z', 'AA', 'AB', 'XXXVIIII', 'A-2',
             'VII A.', '3 4', 'MMMM', 'MMMMM']
    rng = random.Random(42)
    for trial in range(300):
        series = [rng.choice(vocab) for _ in range(rng.randint(1, 25))]
        try:
            got = ours.parse_series(series, ignore_invalid=True)
            got_raised = False
        except ValueError:
            got_raised = True
        try:
            want = ref.parse_series(series, ignore_invalid=True)
            want_raised = False
        except ValueError:
            want_raised = True
        assert got_raised == want_raised, series
        if not got_raised:
            assert _strip(got[0]) == _strip(want[0]), series
            assert got[1] == want[1], series


def test_alpha_to_number_evince_style(ref):
    for s in ['A', 'Z', 'AA', 'AB', 'ZZ', 'AAA']:
        assert ours.alpha_to_number(s) == ref.alpha_to_number(s)


def test_roman_values():
    import itertools
    # all strings the strict grammar accepts up to 20 chars would be huge;
    # sample numbers instead
    for n in itertools.chain(range(1, 400), [999, 1000, 2026, 3999, 4000]):
        # build roman via our value table inverse using the ref-compatible parse
        s = _int_to_roman(n)
        assert ours.roman_to_int(s) == n
        assert ours.is_roman(s)


def _int_to_roman(n):
    vals = [(1000, 'M'), (900, 'CM'), (500, 'D'), (400, 'CD'), (100, 'C'),
            (90, 'XC'), (50, 'L'), (40, 'XL'), (10, 'X'), (9, 'IX'),
            (5, 'V'), (4, 'IV'), (1, 'I')]
    out = []
    for v, s in vals:
        while n >= v:
            out.append(s)
            n -= v
    return ''.join(out)


def test_parse_series_review_cases():
    """Review regressions: tolerant mode never raises, an invalid peek
    neighbour cannot crash settlement, and empty input yields no runs."""
    from archive_pdf_tools_spark.kernels.pagenumbers import parse_series

    import pytest as _pytest
    with _pytest.raises(ValueError):      # reference parity: still raises
        parse_series(["a", "VII"], ignore_invalid=True)
    runs, ok = parse_series(["I", "?"], ignore_invalid=False)
    assert runs                           # invalid peek tolerated as context
    runs, ok = parse_series([])
    assert runs == [] and ok              # no phantom zero-length run
