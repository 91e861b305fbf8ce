package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text chunking for embedding pipelines (reference P8,
  * `preprocessing/chunker.py:26-214`): sentence-split, greedily pack
  * sentences to a token budget, carry a token-overlap tail between chunks,
  * hard-split sentences that exceed the budget on their own.
  *
  * BEHAVIORAL PARITY (SURVEY §7.5 risk 2): this is a bit-exact re-expression
  * of the reference algorithm, golden-tested against its actual output
  * (fixtures generated by running `chunker.py` itself — see
  * `tools/make_chunk_fixtures.py` and ChunkingSpec). The quirks are
  * deliberately preserved:
  *  - token estimate is `max(1, len // 4)` (`chunker.py:132-137`), applied
  *    per SENTENCE during packing (the pack check sums per-sentence
  *    estimates, it does not re-estimate the joined text);
  *  - the 100-char minimum gates the INPUT document only
  *    (`chunker.py:70-72`); emitted chunks are never dropped;
  *  - `start_char` is the running sum of raw sentence lengths consumed so
  *    far INCLUDING the chunk's own sentences (separators not counted —
  *    `chunker.py:117`), and `end_char = start_char + len(chunk_text)`;
  *  - force-split chunks carry `start_char=0, end_char=len(text)`
  *    (`chunker.py:193-195`) and no overlap is seeded after them;
  *  - overlap is the last `50*4` CHARS of the finished chunk's joined text
  *    (`chunker.py:158-168`), prepended as one synthetic "sentence".
  *
  * Execution shape: a pure per-row expansion — `udf` returning
  * `array<struct>` + `explode`, or the Generator form below. No shuffle,
  * fully parallel; at 100 TB this is a narrow map stage whose output is
  * ~1-3× the input rows.
  */
object Chunking {

  case class Chunk(
      chunk_id: String,
      position: Int,
      text: String,
      token_count: Int,
      start_char: Int,
      end_char: Int)

  val maxTokens = 512
  val overlapTokens = 50
  val minChars = 100

  /** Reference token estimate: `max(1, len(text) // 4)` (`chunker.py:137`). */
  private def estTokens(s: String): Int = math.max(1, s.length / 4)

  // Python-`re` parity: \s in Python 3 str patterns matches Py_UNICODE_
  // ISSPACE = Unicode White_Space PLUS \x1c-\x1f, and the same set backs
  // str.strip()/str.split(). Java's UNICODE_CHARACTER_CLASS \s is only
  // White_Space, and Java String.strip misses NBSP (U+00A0/U+2007/U+202F)
  // and U+0085 entirely — hence the widened class + TextFns.pyStrip.
  private val sentSplitRe = java.util.regex.Pattern.compile(
    "(?<=[.!?])[\\s\\x1c-\\x1f]+", java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
  private val wsRe = java.util.regex.Pattern.compile(
    "[\\s\\x1c-\\x1f]+", java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** `re.split(r'(?<=[.!?])\s+', text)` + strip + drop-empty
    * (`chunker.py:126-130`).
    */
  private[operators] def sentences(text: String): Seq[String] =
    sentSplitRe.split(text).toSeq.map(graft.functions.TextFns.pyStrip)
      .filter(_.nonEmpty)

  /** `str.split()`: split on Unicode whitespace runs, no empties. */
  private def words(s: String): Seq[String] =
    wsRe.split(s).toSeq.filter(_.nonEmpty)

  /** Last ~`overlapTokens` tokens of the finished chunk (`chunker.py:158-168`):
    * the whole text when it estimates ≤ the overlap budget, else its last
    * `overlapTokens*4` characters.
    */
  private def overlapText(sentences: Seq[String]): String = {
    val combined = sentences.mkString(" ")
    if (estTokens(combined) <= overlapTokens) combined
    else {
      val overlapChars = overlapTokens * 4
      if (combined.length > overlapChars) combined.substring(combined.length - overlapChars)
      else combined
    }
  }

  /** Force-split of a single over-budget sentence by words
    * (`chunker.py:170-213`), including the `start_char=0` quirk.
    */
  private def splitLongSentence(docId: String, sentence: String,
                                startPosition: Int): Seq[Chunk] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    val cur = scala.collection.mutable.ArrayBuffer.empty[String]
    var curTokens = 0
    def emit(): Unit = {
      val t = cur.mkString(" ")
      val pos = startPosition + out.length
      out += Chunk(s"${docId}_chunk_$pos", pos, t, estTokens(t), 0, t.length)
    }
    words(sentence).foreach { w =>
      val wt = estTokens(w)
      if (curTokens + wt > maxTokens) {
        if (cur.nonEmpty) emit()
        cur.clear(); cur += w; curTokens = wt
      } else {
        cur += w; curTokens += wt
      }
    }
    if (cur.nonEmpty) emit()
    out.toSeq
  }

  /** Chunk one document — the reference main loop (`chunker.py:53-124`).
    * Deterministic, no clock/random — safe for oracle-stable tests.
    */
  def chunk(docId: String, text: String): Seq[Chunk] = {
    if (text == null || text.length < minChars) return Seq.empty

    val chunks = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    val current = scala.collection.mutable.ArrayBuffer.empty[String]
    var currentTokens = 0
    var charPosition = 0
    var position = 0

    def create(pos: Int, startChar: Int): Chunk = {
      val t = current.mkString(" ")
      Chunk(s"${docId}_chunk_$pos", pos, t, estTokens(t), startChar,
        startChar + t.length)
    }

    sentences(text).foreach { sentence =>
      val sentenceTokens = estTokens(sentence)
      if (sentenceTokens > maxTokens) {
        // flush, then force-split; NO overlap is seeded afterwards
        if (current.nonEmpty) {
          chunks += create(position, charPosition)
          position += 1
          current.clear(); currentTokens = 0
        }
        val subs = splitLongSentence(docId, sentence, position)
        chunks ++= subs
        position += subs.length
        charPosition += sentence.length
      } else {
        if (currentTokens + sentenceTokens > maxTokens && current.nonEmpty) {
          chunks += create(position, charPosition)
          position += 1
          val overlap = overlapText(current.toSeq)
          current.clear()
          if (overlap.nonEmpty) { current += overlap; currentTokens = estTokens(overlap) }
          else currentTokens = 0
        }
        current += sentence
        currentTokens += sentenceTokens
        charPosition += sentence.length
      }
    }
    if (current.nonEmpty) chunks += create(position, charPosition)
    chunks.toSeq
  }

  /** DataFrame operator: expand `textCol` into chunk rows, keeping `idCol`. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chunkUdf = udf((id: String, text: String) => chunk(id, text))
    df.withColumn("__chunks", chunkUdf(col(idCol).cast("string"), col(textCol)))
      .select(col(idCol), explode(col("__chunks")).as("chunk"))
      .select(
        col(idCol),
        col("chunk.chunk_id").as("chunk_id"),
        col("chunk.position").as("position"),
        col("chunk.text").as("chunk_text"),
        col("chunk.token_count").as("token_count"),
        col("chunk.start_char").as("start_char"),
        col("chunk.end_char").as("end_char"))
  }

  /** Catalyst Generator form of the chunker (SURVEY.md §4.3(b)): a true
    * UDTF — rows stream out of `eval` without materializing the
    * per-document chunk array the UDF+explode form builds. Same `chunk`
    * semantics; equality asserted in ChunkingSpec.
    */
  def chunkDocumentsGen(df: DataFrame, idCol: String, textCol: String,
                        passThrough: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val gen = ChunkGenerator(
      GraftBridge.expression(col(idCol).cast("string")),
      GraftBridge.expression(col(textCol)))
    // passThrough: per-document attribute columns replicated onto each
    // chunk row by the Generate operator itself — cheaper at any scale
    // than re-joining a corpus-sized dimension back onto the chunks
    df.select((col(idCol) +: passThrough.map(col)) :+ GraftBridge.column(gen)
      .as(Seq("chunk_id", "position", "chunk_text", "token_count",
        "start_char", "end_char")): _*)
  }
}

/** Generator expression backing [[Chunking.chunkDocumentsGen]]. */
case class ChunkGenerator(idExpr: org.apache.spark.sql.catalyst.expressions.Expression,
                          textExpr: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.Expression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def children: Seq[Expression] = Seq(idExpr, textExpr)

  override def elementSchema: StructType = new StructType()
    .add("chunk_id", StringType)
    .add("position", IntegerType)
    .add("chunk_text", StringType)
    .add("token_count", IntegerType)
    .add("start_char", IntegerType)
    .add("end_char", IntegerType)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val id = idExpr.eval(input)
    val text = textExpr.eval(input)
    if (id == null || text == null) Iterator.empty
    else Chunking.chunk(id.toString, text.toString).iterator.map { c =>
      InternalRow(UTF8String.fromString(c.chunk_id), c.position,
        UTF8String.fromString(c.text), c.token_count, c.start_char, c.end_char)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ChunkGenerator =
    copy(idExpr = newChildren(0), textExpr = newChildren(1))
}
