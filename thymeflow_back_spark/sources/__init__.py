"""Sources: the synchronizers and the per-format converters they feed.

The reference's synchronizer/converter registry (SURVEY.md §2.1) maps to
the IMAP/CardDAV/CalDAV/Facebook synchronizers (``synchronizers.py``, with the
fetch-once snapshot diff of ``sync_state.py``) and the file scan
(``files.py``), each feeding per-format converters (email/vCard/iCal/
location-history) that are pure ``bytes → quad rows`` functions. Every
converted artifact becomes one named graph (document semantics), so
re-ingestion is an idempotent graph replacement in the store. Each caller
imports the module it uses.
"""
