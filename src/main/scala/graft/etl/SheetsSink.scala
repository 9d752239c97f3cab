package graft.etl

import org.apache.spark.sql.DataFrame

/** K2 — Google Sheets sink (`/root/reference/utils/load.py:76-159`),
  * re-expressed behind an injectable client seam.
  *
  * The reference authenticates gspread from a service-account file, opens
  * the spreadsheet by key (or creates one), clears-or-creates the target
  * worksheet, writes the whole frame, then shares read-only with anyone.
  * The harness is offline, so the REST transport lives behind
  * [[SheetsClient]] — exactly the surface the reference's own tests mock
  * (`/root/reference/tests/test_load.py:55-105`) — and the spec drives the
  * sink with a fake client; a production deployment supplies an
  * HTTP-backed implementation without touching the sink logic.
  *
  * Scale posture: a spreadsheet is a small-data egress (the Sheets API
  * caps a document at ~10M cells), so the collect() here is inherent to
  * the destination, not a plan flaw — the frame that reaches this sink is
  * a report-sized result, never a fact table.
  */
object Sheets {

  /** The gspread-shaped client surface ([[SheetsSink]]'s transport seam). */
  trait SheetsClient {
    /** None ⇔ gspread's SpreadsheetNotFound. */
    def openByKey(id: String): Option[Spreadsheet]
    def create(title: String): Spreadsheet
  }

  trait Spreadsheet {
    def id: String
    /** None ⇔ gspread's WorksheetNotFound. */
    def worksheet(name: String): Option[Worksheet]
    def addWorksheet(name: String, rows: Int, cols: Int): Worksheet
    def share(role: String, permType: String): Unit
  }

  trait Worksheet {
    def clear(): Unit
    /** Header row + stringified data rows (set_with_dataframe twin). */
    def update(values: Seq[Seq[String]]): Unit
  }
}

/** See [[Sheets]]. `spreadsheetId=None` ⇒ create
  * (`load.py:126-130`); a stale id is re-created only when
  * `createIfNotExists` (`load.py:117-124`). */
final case class SheetsSink(
    client: Sheets.SheetsClient,
    credentialsPath: String,
    spreadsheetId: Option[String] = None,
    sheetName: String = "Products",
    createIfNotExists: Boolean = true) extends Sink {
  val name = "sheets"

  private def newTitle() =
    s"Products ETL ${java.time.LocalDate.now()}" // load.py:121 strftime twin

  def write(df: DataFrame): String = { requireNonEmpty(df); writeNonEmpty(df) }
  override private[etl] def writeNonEmpty(df: DataFrame): String = {
    // credentials must exist before any API call (load.py:107-109)
    if (!new java.io.File(credentialsPath).exists())
      throw LoadError(s"Credentials file not found: $credentialsPath")
    try {
      val spreadsheet = spreadsheetId match {
        case Some(id) => client.openByKey(id).getOrElse {
          if (createIfNotExists) client.create(newTitle())
          else throw LoadError(s"Spreadsheet with ID $id not found")
        }
        case None => client.create(newTitle())
      }
      // worksheet: clear-then-write overwrite, or create sized to the frame
      // (+10 rows / +5 cols headroom, load.py:141-146)
      val rows = df.collect()
      val header = df.columns.toSeq
      val ws = spreadsheet.worksheet(sheetName) match {
        case Some(w) => w.clear(); w
        case None => spreadsheet.addWorksheet(sheetName,
          rows.length + 10, header.length + 5)
      }
      val values = header +: rows.toSeq.map(_.toSeq.map(v =>
        if (v == null) "" else v.toString))
      ws.update(values)
      // anyone-with-the-link read access (load.py:153)
      spreadsheet.share(role = "reader", permType = "anyone")
      spreadsheet.id
    } catch {
      case e: LoadError => throw e
      case e: Exception => throw LoadError(s"Google Sheets export failed: ${e.getMessage}", e)
    }
  }
}
