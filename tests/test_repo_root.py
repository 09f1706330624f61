"""The suite tests the package of the checkout it runs from: conftest
puts that checkout's root first on sys.path, so a run from a second
copy of the repository never imports another copy's package."""

from pathlib import Path

import parkour_spark
from conftest import REPO_ROOT


def test_package_imported_from_this_checkout():
    assert REPO_ROOT == Path(__file__).resolve().parent.parent
    assert Path(parkour_spark.__file__).resolve().is_relative_to(REPO_ROOT)
