"""release_checkpoint never fails the query it cleans up after, but it
no longer swallows failures silently: they are counted, and the first
one per process is logged."""

from __future__ import annotations

import logging

from aliyun_emapreduce_datasources_spark.operators import common


class _BrokenPlan:
    class _jdf:  # noqa: N801 - mirrors DataFrame._jdf
        @staticmethod
        def queryExecution():  # noqa: N802
            raise RuntimeError("plan introspection failed")


def test_failed_release_warns_once_and_counts(monkeypatch, caplog):
    monkeypatch.setattr(common, "release_failures", 0)
    with caplog.at_level(logging.WARNING, logger=common.__name__):
        common.release_checkpoint(_BrokenPlan())
        common.release_checkpoint(_BrokenPlan())
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "release_checkpoint failed" in warnings[0].getMessage()
    assert common.release_failures == 2
