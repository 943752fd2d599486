from .simulated import write_simulated_sstables
from .pipeline import bulk_load
from .bucketed import write_bucketed
from .ring import Ring, replicas_for_token, ring_from_nodes, stream_plan

__all__ = [
    "write_simulated_sstables",
    "bulk_load",
    "write_bucketed",
    "Ring",
    "ring_from_nodes",
    "replicas_for_token",
    "stream_plan",
]
