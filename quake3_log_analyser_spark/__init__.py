"""PySpark-native transcript/log analytics engine.

A from-scratch reimplementation of the capabilities of
zertyz/quake3-log-analyser (reference at /root/reference, Rust), generalized
to multi-turn conversation/agent transcript tables of shape
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` and re-expressed Spark-first:

- parse stage: ``functions.parse_expr`` (pure JVM column expressions,
  whole-stage codegen) and ``functions.parse_arrow`` (pyarrow kernels via
  ``mapInArrow``) — semantics of
  ``quake3-server-events/src/deserializer_logs.rs:15-169``
- translation/projection: ``operators.translate`` —
  ``dal/src/events_translation.rs:13-39``
- sessionization: ``operators.sessionize`` — the ``compose()`` state machine
  of ``bll/src/summary_logic.rs:74-139`` as window expressions
- aggregation: ``operators.summarize`` — ``summarize()``/``kills()``/
  ``means_of_death()``/``game_reported_scores()``/
  ``player_ids_and_nicknames_resolutions()`` of
  ``bll/src/summary_logic.rs:144-415``
- enrich: broadcast hash joins against small dictionaries
- route: per-event-type fan-out sinks with a dead-letter error sink
"""

__version__ = "0.1.0"
