from .bgp import bgp
from .cc import connected_components
from .closure import transitive_closure
from .dlreason import dl_model_search
from .linking import canonical_edges, canonical_mapping, canonical_nodes
from .swrl import forward_chain

__all__ = [
    "bgp",
    "connected_components",
    "transitive_closure",
    "dl_model_search",
    "forward_chain",
    "canonical_edges",
    "canonical_mapping",
    "canonical_nodes",
]
