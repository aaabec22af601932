"""Shared test setup: the checkout these tests live in comes first on
`sys.path`, so every test imports `snacktory_spark` (and loads
`__spark_entry__.py`) from this checkout, never from another copy on the
machine. Paths into the checkout are built from `REPO`."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
