"""Index-build stages: the analogue of the reference's update pipeline
(update/StrucmotifUpdate.java) re-expressed as a SPIMI build on DataFrames.

Stage map (reference -> here):
- update driver (StrucmotifUpdate.java:191-245)                   -> builder.py
- docID minting (io/DefaultStructureIndexProvider.java:114-122)   -> ids.py
- known.list doc dictionary (io/DefaultStateRepository.java:41-61)-> doc_map.py
- informativeness table (ResiduePairOccurrence.java:230-463)      -> builder.py
  (terms stage); corpus stats                                     -> terms.py
- partial posting files + merge (StrucmotifUpdate.java:336-373,
  DefaultInvertedIndex.java:120-268)                              -> postings.py
- dirty.list WAL + atomic bundle swap
  (DefaultStateRepository.java:100-116,
  DefaultInvertedIndex.java:260-264)      -> index_store.py (lineage WAL, publish)
"""

from .index_store import IndexStore
from .builder import build_index

__all__ = ["IndexStore", "build_index"]
