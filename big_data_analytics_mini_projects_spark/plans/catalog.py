"""Aggregation point for the query catalog.

Importing this module registers every declared query into ``QUERIES``, in
import order below and then decorator order within a module.
``__spark_entry__.py`` re-exports exactly this catalog.

The order is a contract for two reasons:

- Module-level imports between plan modules pin part of it, whatever the
  order below: similarityq < round11q < round12q, vectorq < baselineq,
  round13q < round15q (and round14q < round15q through a decoration-time
  oracle builder), pipelineq/round14q < round16q < round17q < round19q <
  round20q, round14q < round6q.
- Adjacent modules bound cache families: the registry releases tracked
  persists and checkpoint leaves whenever consecutive builds cross a module
  boundary (``plans/registry.py``), so reordering imports changes which
  queries share a materialization. ``tests/test_plan_hygiene.py`` pins the
  ordered catalog.
"""

from .registry import QUERIES, QuerySpec  # noqa: F401

# Each import populates the registry via @register side effects.
from . import round14q  # noqa: F401
from . import pipelineq  # noqa: F401
from . import round16q  # noqa: F401
from . import round17q  # noqa: F401
from . import round18q  # noqa: F401
from . import round19q  # noqa: F401
from . import qaq  # noqa: F401
from . import sourcesq  # noqa: F401
from . import samplingq  # noqa: F401
from . import round6q  # noqa: F401
from . import recommendq  # noqa: F401
from . import relationalx  # noqa: F401
from . import textq  # noqa: F401
from . import warehouseq  # noqa: F401
from . import similarityq  # noqa: F401
from . import round11q  # noqa: F401
from . import round12q  # noqa: F401
from . import vectorq  # noqa: F401
from . import baselineq  # noqa: F401
from . import round7q  # noqa: F401
from . import round8q  # noqa: F401
from . import privacyq  # noqa: F401
from . import graphq  # noqa: F401
from . import round9q  # noqa: F401
from . import round10q  # noqa: F401
from . import multimodalq  # noqa: F401
from . import mlq  # noqa: F401
from . import linalgq  # noqa: F401
from . import streamequivq  # noqa: F401
from . import decisionq  # noqa: F401
from . import core  # noqa: F401
from . import curationq  # noqa: F401
from . import qualityq  # noqa: F401
from . import fuzzydedupq  # noqa: F401
from . import statsq  # noqa: F401
from . import round13q  # noqa: F401
from . import round15q  # noqa: F401
from . import tpchx  # noqa: F401
from . import textanalysisq  # noqa: F401
from . import corpusq  # noqa: F401
from . import sketchq  # noqa: F401
from . import tpchfull  # noqa: F401
from . import round20q  # noqa: F401
