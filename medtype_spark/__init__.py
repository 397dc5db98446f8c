"""medtype_spark — a PySpark-native record-linkage / entity-resolution engine.

A from-scratch reimplementation of the *semantics* of svjan5/medtype
(mention detection → candidate generation → semantic-type filtering →
entity linking → clustering metrics) as an idiomatic Spark DataFrame
pipeline: blocking + pairwise scoring + transitive clustering over
web-page-style tables, plus the neleval-style evaluation measures.

Nothing in here is a port of the reference's execution machinery (ZMQ
ventilator/worker/sink, pickle dataflow); only the observable semantics
are reproduced, each documented with a `file:line` citation into
/root/reference for parity checking.
"""

import os

__version__ = "0.1.0"

# the checkout this package sits in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the committed parse fixtures q49/q63/q64 and their oracles read
FIXTURES = os.path.join(ROOT, "tests", "fixtures")
