"""Library configuration: feature flags.

Mirrors the reference's config surface (reference
``src/tmlt/analytics/config.py:11-188``): a ``FeatureFlag`` usable as a
bool with enable/disable/reset and context managers, and a singleton
``Config`` whose ``features`` namespace carries the flags. The only
shipped flag is ``auto_partition_selection``, which gates passing bare
column names to ``QueryBuilder.groupby`` (reference
``query_builder.py:1989-1990``).
"""

from __future__ import annotations

import textwrap
from contextlib import contextmanager
from typing import Optional


class FeatureFlag:
    """A toggle for one experimental feature; truthy when enabled."""

    def __init__(self, summary: str, default: bool):
        self._summary = summary
        self._default = default
        self._enabled: Optional[bool] = None
        self._name: Optional[str] = None

    def __bool__(self) -> bool:
        return self._enabled if self._enabled is not None else self._default

    def __str__(self) -> str:
        return f"{self._name}: {'enabled' if self else 'disabled'}"

    def enable(self) -> None:
        self._enabled = True

    def disable(self) -> None:
        self._enabled = False

    def reset(self) -> None:
        self._enabled = None

    @contextmanager
    def enabled(self):
        original = self._enabled
        self._enabled = True
        try:
            yield
        finally:
            self._enabled = original

    @contextmanager
    def disabled(self):
        original = self._enabled
        self._enabled = False
        try:
            yield
        finally:
            self._enabled = original

    def raise_if_disabled(self) -> None:
        if self:
            return
        state = "has been disabled" if self._enabled is False else "is disabled by default"
        raise RuntimeError(
            textwrap.dedent(
                f"""
                {self._summary}, and {state}.

                To use this feature, you must enable the {self._name} feature flag:
                from tumult_analytics_spark.config import config
                config.features.{self._name}.enable()
                """
            ).strip()
        )


class Config:
    """Singleton configuration object; ``Config().features`` holds flags."""

    _instance = None

    def __new__(cls):
        if not cls._instance:
            cls._instance = super().__new__(cls)
        return cls._instance

    class Features:
        """Experimental feature toggles.

        * ``auto_partition_selection``: DP partition selection when a list
          of column names (not a KeySet) is passed to ``groupby``; requires
          an ApproxDP budget.
        """

        auto_partition_selection = FeatureFlag(
            "Automatic partition selection is experimental", default=False
        )

        def __init__(self):
            for k, v in Config.Features.__dict__.items():
                if isinstance(v, FeatureFlag):
                    v._name = k

    def __init__(self):
        if not hasattr(self, "features"):
            self.features = Config.Features()


config = Config()
