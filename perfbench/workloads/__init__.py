"""The benchmark's workloads, by name. Each puts a different layer under
load; the one-line reasons are in ``BENCHMARK.json``."""

from workloads.cdc_stream import CdcStream
from workloads.scd2_query import Scd2Query

WORKLOADS = {
    "cdc_stream": CdcStream,
    "scd2_query": Scd2Query,
}
