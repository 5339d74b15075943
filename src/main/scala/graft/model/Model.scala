package graft.model

import java.sql.Timestamp

/** Core schemas of the extraction engine. Each stage of the pipeline has a
  * concrete case class (= Catalyst StructType), replacing the reference's
  * stringly-keyed sample dict (pytocr/data/imaug/__init__.py:19-27) with
  * fixed, column-prunable schemas.
  */

/** One transcript turn — mirrors BASELINE.json input_hint exactly:
  * (conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
  * ts:timestamp).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** A flattened DOM node from the HTML tag-stream tokenizer — the analogue of
  * the decoded pixel array produced by DecodeImage
  * (pytocr/data/imaug/operators.py:9-38). Only TEXT nodes carry text; the
  * surrounding element structure is encoded as (tag, depth, flags) so the
  * array stays a flat, Tungsten-friendly array<struct>.
  *
  * @param tag      enclosing element tag (lowercase), "" for top level
  * @param depth    nesting depth of the enclosing element
  * @param linkChars number of chars inside <a> (for link-density scoring)
  * @param boiler   true when any ancestor is a boilerplate container
  *                 (nav/footer/header/aside/script/style/form/noscript)
  * @param heading  true when inside h1..h6
  * @param code     true when inside pre/code
  * @param text     decoded (entity-resolved) text content
  * @param srcStart char offset of this node's raw text in the source payload
  * @param srcEnd   exclusive end offset in the source payload
  */
final case class DomNode(
    tag: String,
    depth: Int,
    linkChars: Int,
    boiler: Boolean,
    heading: Boolean,
    code: Boolean,
    text: String,
    srcStart: Int,
    srcEnd: Int)

/** Char span into the RAW source payload of a turn. */
final case class Span(start: Int, end: Int, kind: String)

/** A candidate content block: a contiguous run of above-threshold nodes —
  * the analogue of one detected box from DBPostProcess.boxes_from_bitmap
  * (pytocr/postprocess/db_postprocess.py:76-153).
  *
  * @param span  envelope span over the source payload
  * @param btype block class: main | title | code | boiler
  * @param score mean node score of the block (box_score analogue)
  * @param text  decoded, normalized block text
  */
final case class Block(span: Span, btype: String, score: Double, text: String)
