package graft.schema

import java.sql.Timestamp

/** Core row types of the KG-construction pipeline.
  *
  * `Turn` is exactly the input_hint schema from BASELINE.json:
  * (conv_id, turn_idx, role, text, tool, ts). The `text` column must
  * survive the whole pipeline byte-identical (per-turn text equality
  * invariant); every derived representation (tokens, embeddings) lives in
  * separate columns.
  *
  * The reference models rows as Python example objects
  * (reference: src/dataset/dataset.py:18-64, 110-122); here they are
  * case classes with Catalyst `Encoder`s so every stage stays a typed
  * `Dataset` inside one Catalyst plan.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** A detected mention: a gazetteer surface occupying token positions
  * [token_pos, token_pos + token_len) of the turn's token array.
  * Mirrors the reference's word-span rows (src/dataset/wic_dataset.py:4-30).
  */
final case class Mention(
    conv_id: String,
    turn_idx: Int,
    token_pos: Int,
    token_len: Int,
    surface: String)

/** (subj, pred, obj) extraction output; subj/obj are entity ids. */
final case class Triple(
    conv_id: String,
    turn_idx: Int,
    subj: String,
    pred: String,
    obj: String,
    score: Double)

/** Candidate-index entry: one entity with its alias surfaces.
  * The embedding is derived deterministically from the surfaces by the
  * shared scorer spec (graft.score.Embed), mirroring the reference's
  * sense-key -> vector map (src/utils/utils.py:270-302).
  */
final case class Entity(
    entity_id: String,
    canonical: String,
    aliases: Seq[String])

/** Graph node after canonicalization. */
final case class NodeRow(
    entity_id: String,
    canonical: String,
    surface_forms: Seq[String])

/** Graph edge with support count. */
final case class EdgeRow(
    src: String,
    pred: String,
    dst: String,
    support: Long)
