"""The order ``__spark_entry__.queries()`` returns is part of the driver
contract (its attestation walks keys in that order under a bounded
window), so it is pinned here as a hash of the key list."""

from __future__ import annotations

import hashlib

import __spark_entry__

ORDER_SHA256 = "cd8011ec3d91958b88c0aa69f0d0a6cb2bda77d07aeaa7bb6c14769d30ef09fc"


def test_queries_order_is_pinned():
    keys = list(__spark_entry__.queries())
    assert len(keys) == 399
    digest = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    assert digest == ORDER_SHA256
